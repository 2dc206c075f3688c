"""Similarity search over embedding columns (graft-added capability).

* ``knn_bruteforce`` — exact cosine top-k: the (small) query set is
  collected and broadcast, and one ``mapInArrow`` pass scores each corpus
  Arrow batch against it with a float64 BLAS matmul; a per-query window
  ranks the candidates. This is the correctness baseline; cost
  O(|Q|·|corpus|) — fine when |Q| is small and broadcast-able.
* ``knn_lsh`` — random-hyperplane (SimHash) bucketing: only candidates
  sharing a band bucket are scored, turning the cross join into an equi
  join on (band, signature). Probabilistic recall, tunable via
  n_bands/bits_per_band; exact scoring inside each bucket.
* ``knn_ivf`` — inverted file: the corpus tagged with its nearest k-means
  cell (``ivf_assign``, or the index ``ivf_index_write`` writes); each
  query probes its nprobe nearest cells, an equi join on the cell id.

Every path decodes ``list<float>`` batches with :func:`_list_parts` /
:func:`_gather_rows`. SimHash signatures, cell assignment and query probes
share one projection kernel (:func:`_project`); LSH and IVF candidates
share one rerank (:func:`_rerank_batches`). Both accumulate in float64,
left to right over dims, so their values are bit-identical to the Spark
fold expressions kept as the executable spec in ``tests/vector_spec.py``
and to DuckDB's list arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """The top k (query_id, neighbor_id, sim, rnk) rows per query under
    (sim desc — NaN greatest, null last — then neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk"))


def _ddl(df: DataFrame, *names: str) -> str:
    """DDL of df's columns under new names, types kept (ids of any type)."""
    return ", ".join(f"{n} {f.dataType.simpleString()}"
                     for n, f in zip(names, df.schema.fields))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. queries must be small (is collected + broadcast).

    Physical shape: one Arrow pass over the corpus (``mapInArrow``) computes
    each batch's |batch|×|Q| similarity matrix with one float64 BLAS matmul
    per distinct query length and emits only each query's per-batch top-k
    candidate rows (including every row tied with the k-th, so the global
    top-k under (sim desc, neighbor_id asc) is exactly preserved); a final
    tiny window over ~|Q|·k·n_batches candidate rows ranks them.

    Every pair scores as the spec's cosine fold, up to BLAS summation
    order: each at its own length; null (ranked last) for a null vector or
    element, mismatched lengths or a zero denominator; NaN (ranked first)
    for NaN or inf vectors. Self-pairs are excluded, as the join's
    ``query_id != neighbor_id``."""
    import numpy as np
    import pyarrow as pa

    q_tab = queries.select(id_col, vec_col).toArrow()
    q_ids = q_tab.column(0).combine_chunks()
    off, vals, n_null, lens = _list_parts(q_tab.column(1).combine_chunks())
    groups = []  # (length, query indexes, unit rows, norms) per length
    for dim in np.unique(lens[(lens >= 0) & (n_null == 0)]):
        qi = np.flatnonzero((lens == dim) & (n_null == 0))
        mat = _gather_rows(off, vals, qi, dim)
        norm = np.linalg.norm(mat, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            groups.append((dim, qi, mat / norm[:, None], norm))
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, groups))

    def part_topk(batches):
        ids_b, groups_b = bq.value
        nq = len(ids_b)
        q_key = ids_b.to_numpy(zero_copy_only=False)
        for b in batches:
            n = b.num_rows
            if n == 0 or nq == 0:
                continue
            c_off, c_vals, c_null, c_lens = _list_parts(b.column(1))
            sims = np.full((n, nq), -np.inf)  # -inf: null (no cosine is -inf)
            for dim, qi, q_unit, q_norm in groups_b:
                ci = np.flatnonzero((c_lens == dim) & (c_null == 0))
                if len(ci) == 0:
                    continue
                c = _gather_rows(c_off, c_vals, ci, dim)
                c_norm = np.linalg.norm(c, axis=1)
                with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                    block = (c / c_norm[:, None]) @ q_unit.T
                    if not (c_norm.all() and q_norm.all()):
                        # the fold's zero denominator; inf·0 and NaN·0 are NaN
                        block[np.outer(c_norm, q_norm) == 0] = -np.inf
                if len(ci) == n and len(qi) == nq:
                    sims = block
                else:
                    sims[np.ix_(ci, qi)] = block
            # self-pairs are dropped; NaN ranks greatest (Spark's double
            # order). The threshold is each query column's k-th largest key,
            # and EVERY row reaching it is kept so boundary ties can never
            # evict the neighbor the global order keeps
            own = b.column(0).to_numpy(zero_copy_only=False)[:, None] == q_key[None, :]
            sims[own] = -np.inf
            nan = np.isnan(sims)
            key = np.where(nan, np.inf, sims) if nan.any() else sims
            thresh = np.partition(key, n - k, axis=0)[n - k] if n > k else -np.inf
            keep_i, keep_j = np.nonzero((key >= thresh) & ~own)
            kept = sims[keep_i, keep_j]
            yield pa.RecordBatch.from_arrays(
                [ids_b.take(keep_j), b.column(0).take(keep_i),
                 pa.array(kept, mask=kept == -np.inf)],
                names=["query_id", "neighbor_id", "sim"])

    from .linking import spread

    base = spread(corpus, id_col).select(F.col(id_col), F.col(vec_col))
    ddl = (f"query_id {queries.schema[id_col].dataType.simpleString()}, "
           f"{_ddl(base, 'neighbor_id')}, sim double")
    return _rank(base.mapInArrow(part_topk, ddl), k)


def _project(vecs, mat):
    """(dots, norms, ok, norm_ok) of an Arrow ``list<float>`` column against
    the (m, dim) float64 matrix ``mat`` — the planes or the centroids.

    dots[i, j] = row i · mat[j] and norms[i] = |row i| accumulate in
    float64 from 0.0, left to right over dims, vectorized over rows: the
    IEEE-754 sequence of the spec's dot and norm folds, so both are
    bit-identical to them. A null vector or element nulls both folds
    (norm_ok false); a row of another length than dim nulls only the dot
    (ok = norm_ok and length == dim) and keeps its own norm — an empty row
    has norm 0.0. dots is 0.0 where not ok, norms NaN where not norm_ok."""
    import numpy as np

    off, vals, n_null, lens = _list_parts(vecs)
    norm_ok = (lens >= 0) & (n_null == 0)
    ok = norm_ok & (lens == mat.shape[1])
    dots = np.zeros((len(lens), len(mat)))
    norms = np.full(len(lens), np.nan)
    for dim in np.unique(lens[norm_ok]):
        rows = np.flatnonzero(norm_ok & (lens == dim))
        x = _gather_rows(off, vals, rows, dim)
        norms[rows] = np.sqrt(_row_dots(x, x))
        if dim == mat.shape[1]:
            acc = np.zeros((len(rows), len(mat)))
            for d in range(dim):
                acc += x[:, d][:, None] * mat[:, d][None, :]
            dots[rows] = acc
    return dots, norms, ok, norm_ok


def _signed_arrow(df: DataFrame, id_col: str, vec_col: str, idn: str,
                  planes: list[list[float]]) -> DataFrame:
    """The signature pass of :func:`knn_lsh`: one ``mapInArrow`` pass emits
    (id, vec, norm, signature), the signature one '0'/'1' character per
    plane from :func:`_project`, equal to the spec's signature fold:

    * Spark orders NaN greater than any number, so ``NaN >= 0`` is true in
      the fold's ``when`` — a NaN dot gives '1'.
    * a null dot (null vector or element, length ≠ dim) gives '0'.
    * an all-zero vector has norm 0.0 and every dot 0.0, so every bit is
      '1'; nothing divides here.
    """
    import numpy as np
    import pyarrow as pa

    pmat = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    base = df.select(F.col(id_col), F.col(vec_col))

    def compute(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            dots, norms, ok, norm_ok = _project(b.column(1), pmat)
            bits = ok[:, None] & ((dots >= 0.0) | np.isnan(dots))
            sig_bytes = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
            sigs = pa.array(np.frombuffer(sig_bytes.tobytes(), dtype=f"S{len(pmat)}")
                            .astype("U"), type=pa.string())
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(norms, mask=~norm_ok), sigs],
                names=[idn, f"{idn}_vec", f"{idn}_norm", "_sig"])

    ddl = f"{_ddl(base, idn, f'{idn}_vec')}, {idn}_norm double, _sig string"
    return base.mapInArrow(compute, ddl)


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


# Per-side byte budget of knn_lsh's broadcast rerank: rows × dim × 8 B of
# float64 vectors. 200,000 rows at dim 64 — the row gate the shape was
# measured at.
_BROADCAST_BYTES = 200_000 * 64 * 8


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
        # full signature + norm computed ONCE per row by the Arrow pass,
        # then materialized (localCheckpoint = optimizer barrier, same
        # discipline as linking.lsh_candidate_pairs) so the downstream band
        # slicing, rerank rejoin and count consumers reuse the one
        # Python-stage execution instead of re-running it.
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
    # * broadcast lookup (both sides within _BROADCAST_BYTES): the (id, vec,
    #   norm) tables are already materialized by the signature checkpoint,
    #   so counting them is a metadata-cheap action — the Arrow pass then
    #   crosses ONLY the (query_id, neighbor_id) id pairs and gathers
    #   vectors from the broadcast, instead of attaching two dim-wide
    #   vector columns to every candidate row (guide §8: move the heavy
    #   bytes once — here, once per worker instead of once per pair).
    # * join + Arrow rerank (the general path): broadcast-hash rejoins of
    #   the id→vector frames, vectors ride the candidate rows into the
    #   scoring pass.
    def fits(df: DataFrame) -> bool:
        return df.count() * dim * 8 <= _BROADCAST_BYTES

    q_cols = ["query_id", "query_id_vec", "query_id_norm"]
    c_cols = ["neighbor_id", "neighbor_id_vec", "neighbor_id_norm"]
    if fits(cbase) and (queries is corpus or fits(qbase)):
        c_rows = cbase.select(c_cols).collect()
        q_rows = c_rows if queries is corpus else qbase.select(q_cols).collect()
        scored = _cosine_rerank_broadcast(cand, q_rows, c_rows, partial_topk=k)
    else:
        joined = (cand.join(qbase.select(q_cols), "query_id")
                  .join(cbase.select(c_cols), "neighbor_id")
                  .select(*[n for pair in zip(q_cols, c_cols) for n in pair]))
        scored = _cosine_rerank_arrow(joined, partial_topk=k)
    return _rank(scored, k)


def _cosine_rerank_broadcast(cand: DataFrame, q_rows, c_rows,
                             partial_topk: int | None = None) -> DataFrame:
    """Broadcast-lookup twin of :func:`_cosine_rerank_arrow`: candidates
    cross the Arrow boundary as bare id pairs; vectors and norms come from
    a broadcast of the (already materialized) signature tables, decoded
    once on the driver, and each pair is scored by the same
    :func:`_pair_sims`, so every sim — degenerate pairs included — equals
    the join-shaped rerank's. As in the join, a pair whose id is held by
    several rows of a table is scored once per row (:func:`_rows_of`). The
    collected vectors are float32 widened exactly to float64, the same
    widening the JVM cast performs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def pack(rows):
        # rows grouped by id, so the rows of distinct id j are
        # bounds[j]:bounds[j + 1]
        ids = pa.array([r[0] for r in rows])
        uniq = pc.unique(ids)
        g = pc.index_in(ids, value_set=uniq).to_numpy()
        rows = [rows[i] for i in np.argsort(g, kind="stable")]
        vecs = pa.array([r[1] for r in rows], type=pa.list_(pa.float64()))
        norms = np.array([r[2] for r in rows], dtype=np.float64)  # null: NaN
        return (uniq, np.r_[0, np.cumsum(np.bincount(g))]), _list_parts(vecs), norms

    spark = cand.sparkSession
    bq = spark.sparkContext.broadcast(pack(q_rows))
    bc = spark.sparkContext.broadcast(pack(c_rows) if c_rows is not q_rows
                                      else None)
    return cand.mapInArrow(
        lambda batches: _rerank_batches(batches, partial_topk,
                                        (bq.value, bc.value or bq.value)),
        f"{_ddl(cand, 'query_id', 'neighbor_id')}, sim double")


def _cosine_rerank_arrow(joined: DataFrame, partial_topk: int | None = None) -> DataFrame:
    """(query_id, neighbor_id, sim) from candidate rows carrying both vectors
    and their precomputed norms — one Arrow pass with the per-dimension
    accumulation done as vectorized numpy column ops. The ids keep their
    input type.

    Bit-identical to the spec's cosine fold, dot / (a_norm * b_norm): the
    accumulator loops over dimensions in the same left-to-right order with
    one IEEE-754 float64 multiply and add per step — vectorized over the
    pairs, sequential over dims — so every intermediate equals the fold's
    intermediate and the final sim matches to the last bit (pinned by the
    DuckDB oracle, whose own list arithmetic is the same sequential order).
    The norms ride through untouched.

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
        f"{_ddl(joined, 'query_id', 'neighbor_id')}, sim double")


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
            sim[rows] = _row_dots(qv, cv) / den[rows]
    return sim, valid


def _row_dots(a, b):
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


def _order_key(ids):
    """int64 numpy key that orders an Arrow id column as Spark does: the
    ids themselves when integral, else their dense rank (pyarrow and Spark
    both order strings by their UTF-8 bytes)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_integer(ids.type):
        return ids.to_numpy(zero_copy_only=False).astype(np.int64)
    return pc.rank(ids, tiebreaker="dense").to_numpy()


def _rows_of(ids, uniq, bounds):
    """(i, row): every pair of a position i in the Arrow column ``ids`` and
    a row of a table grouped by id — the rows of ``uniq[j]`` are
    ``bounds[j]:bounds[j + 1]`` — holding the same id, as an equi join
    pairs them: a duplicated id gives one pair per row."""
    import numpy as np
    import pyarrow.compute as pc

    u = pc.index_in(ids, value_set=uniq).to_numpy()
    n = bounds[u + 1] - bounds[u]
    i = np.repeat(np.arange(len(u)), n)
    return i, np.arange(len(i)) + np.repeat(bounds[u] - np.cumsum(n) + n, n)


def _rerank_batches(batches, partial_topk: int | None, tables=None):
    """The ``mapInArrow`` body of both reranks. Without ``tables`` the
    batches are (query_id, neighbor_id, q_vec, n_vec, q_norm, n_norm); with
    ``tables`` — the query and corpus ``(lookup, _list_parts, norms)`` of
    :func:`_cosine_rerank_broadcast` — they are (query_id, neighbor_id),
    and a pair yields one row per (query row, corpus row) holding its ids."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        qid, nid = b.column(0), b.column(1)
        if tables is None:
            qi = ci = np.arange(b.num_rows)
            q, c = [(_list_parts(b.column(i)), np.asarray(b.column(i + 2).to_numpy(
                zero_copy_only=False), dtype=np.float64)) for i in (2, 3)]
        else:
            (q_look, *q), (c_look, *c) = tables
            p, qi = _rows_of(qid, *q_look)
            j, ci = _rows_of(nid.take(p), *c_look)
            qid, nid, qi = qid.take(p[j]), nid.take(p[j]), qi[j]
        sim, valid = _pair_sims(q, qi, c, ci)
        if partial_topk is not None and len(sim) > partial_topk:
            # Spark orders doubles with NaN as the greatest value; null sims
            # (invalid pairs) sort after every value under F.desc
            qk = _order_key(qid)
            key = np.where(np.isnan(sim), np.inf, sim)
            order = np.lexsort((_order_key(nid), -key, ~valid, qk))
            qs = qk[order]
            starts = np.r_[0, np.nonzero(np.diff(qs))[0] + 1]
            sizes = np.diff(np.r_[starts, len(order)])
            rank = np.arange(len(order)) - np.repeat(starts, sizes)
            keep = np.sort(order[rank < partial_topk])
            qid, nid, sim, valid = qid.take(keep), nid.take(keep), sim[keep], valid[keep]
        yield pa.RecordBatch.from_arrays(
            [qid, nid, pa.array(sim, mask=~valid)],
            names=["query_id", "neighbor_id", "sim"])


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer trained driver-side on a
# sample; cell assignment and query probes run in the Arrow projection
# kernel. The cross join becomes an equi join on cell id; recall is tuned
# with nprobe.
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
    ingest order correlates with content).

    The sample is decoded with :func:`_list_parts` and only its clean rows
    train: a null vector, a null or non-finite element, or a length other
    than ``dim`` drops the row (the assignment kernels still place such
    rows). A sample with no clean row raises ``ValueError``."""
    import numpy as np
    import pyarrow as pa

    if size_hint is not None:
        n_cells, sample_size = ivf_sizing(size_hint, max_cells=max_cells)

    rows = corpus.select(vec_col).rdd.takeSample(False, sample_size, seed)
    off, vals, n_null, lens = _list_parts(
        pa.array([r[0] for r in rows], type=pa.list_(pa.float64())))
    ok = np.flatnonzero((lens == dim) & (n_null == 0))
    x = _gather_rows(off, vals, ok, dim) if len(ok) else np.empty((0, dim))
    x = x[np.isfinite(x).all(axis=1)]
    if not len(x):
        raise ValueError(f"ivf_train_centroids: no sampled {vec_col!r} row of "
                         f"{len(rows)} is a {dim}-dim finite, non-null vector")
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


def _top_cells(vecs, cmat, nprobe: int):
    """(cells, norms, norm_ok) of an Arrow ``list<float>`` column against
    the (n_cells, dim) centroid matrix: cells is the (n, min(nprobe,
    n_cells)) int32 matrix of each row's nearest cells, in the order of
    ``slice(reverse(array_sort(sims)), 1, nprobe)`` over the spec's array
    of (sim, cell) structs: cosine (dot / norm; the centroids are unit
    vectors) descending with NaN greatest, Spark's double order, and ties
    to the larger cell. A row whose dots are null (null vector or element,
    length ≠ dim) has every sim null and takes the last cells, largest
    first."""
    import numpy as np

    dots, norms, ok, norm_ok = _project(vecs, cmat)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(ok[:, None], dots / norms[:, None], 0.0)[:, ::-1]
    nan = np.isnan(sims)
    # lexsort is stable, so equal keys keep the reversed (larger-cell-first)
    # order
    order = np.lexsort((np.where(nan, 0.0, -sims), ~nan), axis=1)[:, :nprobe]
    return (len(cmat) - 1 - order).astype(np.int32), norms, norm_ok


def _ivf_cells(df: DataFrame, centroids, nprobe: int, id_col: str,
               vec_col: str) -> DataFrame:
    """(id, vec, norm, cell) rows of df, one per each row's nprobe nearest
    cells, from one ``mapInArrow`` pass of :func:`_assign_batches`."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    base = df.select(F.col(id_col), F.col(vec_col))
    return base.mapInArrow(
        lambda batches: _assign_batches(batches, cmat, id_col, vec_col, nprobe),
        f"{_ddl(base, id_col, vec_col)}, norm double, cell int")


def _assign_batches(batches, cmat, id_col: str, vec_col: str, nprobe: int = 1):
    """The ``mapInArrow`` body of :func:`_ivf_cells` over Arrow batches of
    (id, vec); cmat is the (n_cells, dim) float64 centroid matrix. A row
    repeats once per probed cell, in :func:`_top_cells` order."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        cells, norms, norm_ok = _top_cells(b.column(1), cmat, nprobe)
        cols = [b.column(0), b.column(1), pa.array(norms, mask=~norm_ok)]
        if cells.shape[1] > 1:
            rep = pa.array(np.repeat(np.arange(b.num_rows), cells.shape[1]))
            cols = [col.take(rep) for col in cols]
        yield pa.RecordBatch.from_arrays(
            cols + [pa.array(cells.ravel())],
            names=[id_col, vec_col, "norm", "cell"])


def ivf_assign(df: DataFrame, centroids, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """One (id, vec, norm, cell) row per input row — cell = nearest
    centroid, norm = |vec| (null for a null vector or element).

    spread() first (statically gated, identity on well-partitioned input):
    a small-but-dense corpus arriving as one scan split would otherwise run
    the whole assignment on one core (measured: q39 at sf1.0 drops
    10.8 s → 3.7 s from this change alone).

    The cell is the first of :func:`_top_cells`, equal to ``array_max``
    over the spec's (sim, cell) structs: the LAST index achieving the
    maximum sim (struct ties break on the larger cell field) with NaN sims
    ordered greatest; degenerate rows (null vector / null element /
    length ≠ dim) null every sim, and the max of all-(null sim) structs is
    the last cell.

    Zero-norm divergence: for an all-zero vector the fold's ``/ norm``
    raises DIVIDE_BY_ZERO under ANSI mode, so there is no result to match.
    Here every sim is 0/0 = NaN, computed without a RuntimeWarning, and the
    row lands in the last cell by the NaN-greatest rule above.
    """
    from .linking import spread

    return _ivf_cells(spread(df, id_col), centroids, 1, id_col, vec_col)


def ivf_index_write(corpus: DataFrame, centroids, path: str,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialized IVF index: the ``ivf_assign`` rows hive-partitioned by
    cell. At 100 TB this is the serving layout — a probe touches only its
    cells' FILES (parquet partition pruning), so query cost follows
    nprobe/n_cells of the data instead of a full scan. Read it back with
    ``spark.read.parquet(path)`` as ``knn_ivf``'s ``cells``.

    The write clusters rows by cell first (one hash exchange of the
    assigned rows): without it every scan task writes a sliver of every
    cell — tasks × cells files of a few KB each, the classic small-files
    layout (guide §6) that makes both the index listing and every probe's
    read slower. AQE coalescing sizes the writer tasks, so big cells still
    split across files at real scale."""
    (ivf_assign(corpus, centroids, id_col, vec_col)
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def knn_ivf(
    queries: DataFrame,
    cells: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over a cell-tagged corpus: each query probes
    its nprobe nearest cells and the candidates in them are scored exactly
    (:func:`_cosine_rerank_arrow`) and ranked per query.

    ``cells`` is ``ivf_assign(corpus, centroids)`` or the index
    ``ivf_index_write`` wrote, read back with ``spark.read.parquet(path)``;
    there the cell equi join prunes the index partitions, so only the
    probed cells' files are read.

    Probes follow ``ivf_assign``'s order (:func:`_top_cells`). A query
    whose sims are all NaN — a NaN or all-zero vector — probes the last
    nprobe cells; for an all-zero vector the spec's fold raises
    DIVIDE_BY_ZERO under ANSI instead."""
    q = _ivf_cells(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"), "cell")
    c = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.col("norm").alias("c_norm"), "cell")
    joined = (q.join(c, "cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "q_vec", "c_vec",
                      "q_norm", "c_norm"))
    return _rank(_cosine_rerank_arrow(joined, partial_topk=k), k)

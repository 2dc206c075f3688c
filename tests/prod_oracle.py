"""Engine-independent Python oracles for the production-hash twin queries
(q29p/q31p/q37p/q40p/q41p/q42p/q48p).

The md5-family queries are value-verified against DuckDB; these twins use
xxhash64 / seeded-Gaussian planes, which DuckDB cannot recompute — so this
module recomputes them in plain Python on pandas-loaded parquet, using
tests/pyxxh64.py (bit-exact vs Spark, pinned by test_xxh64_primitive.py)
for every hash. Tokenization/regex semantics mirror the JVM expressions the
operators use (ASCII \\s for split, space-only trim, left-to-right float
folds) — the same parity discipline the DuckDB oracles follow.

Deliberately simple, eager, single-process code: the point is independence
from the Spark implementation, not speed.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyxxh64 import spark_xxhash64, xxh64, xxh64_int, xxh64_long

_WS = re.compile(r"\s+", re.ASCII)     # Java \s (no UNICODE_CHARACTER_CLASS)
_M64 = (1 << 64) - 1


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def round_half_up(x: float, digits: int) -> float:
    """Spark F.round semantics: HALF_UP on the shortest-decimal repr of the
    double (BigDecimal.valueOf)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           rounding=ROUND_HALF_UP))


def java_trim(s: str) -> str:
    """Spark F.trim removes 0x20 spaces only."""
    return s.strip(" ")


def split_ws(s: str) -> list[str]:
    """F.split(col, r'\\s+') — Java regex split with limit -1: ASCII \\s,
    leading empty token kept when the string starts with whitespace,
    trailing empties kept (limit -1)."""
    if s == "":
        return [""]
    return _WS.split(s)


def words_of(s: str) -> list[str]:
    return split_ws(java_trim(s.lower()))


# ---------------------------------------------------------------------------
# SimHash64 (operators/dedup.py simhash64): per distinct word, xxhash64 with
# seed 42; bit b (LSB-first) votes +1/-1; output '0'/'1' chars b=0..63.
# ---------------------------------------------------------------------------

_word_hash_cache: dict[str, int] = {}


def _word_hash(w: str) -> int:
    h = _word_hash_cache.get(w)
    if h is None:
        h = xxh64(w.encode("utf-8"), 42)
        _word_hash_cache[w] = h
    return h


def simhash64_py(text: str) -> str:
    words = list(dict.fromkeys(words_of(text)))  # array_distinct keeps order
    votes = [0] * 64
    for w in words:
        h = _word_hash(w)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return "".join("1" if v > 0 else "0" for v in votes)


def q29p_expected(docs) -> list[tuple]:
    """docs: pandas DataFrame with doc_id/text. Returns the (bucket, n)
    rows, ordered n desc / bucket asc, limit 20."""
    counts = Counter(simhash64_py(t)[:8] for t in docs["text"])
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    return [(b, n) for b, n in rows]


def q41p_expected(docs) -> tuple:
    """(n_groups, total_docs, max_group) over the id/id+1M doubled pool."""
    groups = Counter()
    for t in docs["text"]:
        groups[simhash64_py(t)] += 2       # each text appears twice in the pool
    sizes = [n for n in groups.values() if n > 1]
    return (len(sizes), sum(sizes), max(sizes))


# ---------------------------------------------------------------------------
# MinHash-LSH (operators/linking.py minhash_signature + band_keys, xxhash64
# branch) and the verified-pairs aggregate (q31p / q42p).
# ---------------------------------------------------------------------------

def word_shingles_py(text: str, n: int) -> list[str]:
    """operators/dedup.py word_shingles: sequence(0, greatest(size-n, 0)),
    gram = join(slice(words, i+1, n)), distinct."""
    words = words_of(text)
    last = max(len(words) - n, 0)
    grams = [" ".join(words[i:i + n]) for i in range(last + 1)]
    return list(dict.fromkeys(grams))


_shingle_hash_cache: dict[str, int] = {}


def _shingle_base_hash(sh: str) -> int:
    h = _shingle_hash_cache.get(sh)
    if h is None:
        h = xxh64(sh.encode("utf-8"), 42)
        _shingle_hash_cache[sh] = h
    return h


def minhash_sig_py(shingles: list[str], num_hashes: int = 16) -> list[int]:
    """array<long> signature: per seed i, min over shingles of SIGNED
    xxhash64(sh, i) — string hashed with seed 42, then IntegerType i chained
    (array_min compares Spark longs, i.e. signed)."""
    sig = [None] * num_hashes
    for sh in shingles:
        base = _shingle_base_hash(sh)
        for i in range(num_hashes):
            h = _signed(xxh64_int(i, base))
            if sig[i] is None or h < sig[i]:
                sig[i] = h
    return sig


def band_key_py(sig_slice: list[int]) -> int:
    """xxhash64 of an array<long> slice: seed-chained element hashes."""
    h = 42
    for v in sig_slice:
        h = xxh64_long(v, h)
    return _signed(h)


def _minhash_pairs_core(pool: dict[int, list[str]], bands: int = 8,
                        rows: int = 2, pair_mode: str = "all"):
    """pool: id -> distinct shingle list (non-empty). Yields candidate
    (src, dst) pairs (src < dst for 'all'; (bucket_min, other) for 'star')."""
    sigs = {i: minhash_sig_py(sh) for i, sh in pool.items()}
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, sig in sigs.items():
        for b in range(bands):
            buckets[(b, band_key_py(sig[b * rows:(b + 1) * rows]))].append(i)
    cand = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        if pair_mode == "star":
            src = min(members)
            cand.update((src, m) for m in members if m != src)
        else:
            ms = sorted(members)
            for ai in range(len(ms)):
                for bi in range(ai + 1, len(ms)):
                    cand.add((ms[ai], ms[bi]))
    return cand


def _verified_pairs(pool: dict[int, list[str]], threshold: float,
                    bands: int = 8, rows: int = 2, pair_mode: str = "all"):
    """(src, dst, jaccard) for candidates with exact set Jaccard >= t."""
    sets = {i: set(sh) for i, sh in pool.items()}
    out = []
    for src, dst in _minhash_pairs_core(pool, bands, rows, pair_mode):
        inter = len(sets[src] & sets[dst])
        j = inter / (len(sets[src]) + len(sets[dst]) - inter)
        if j >= threshold:
            out.append((src, dst, j))
    return out


def _doubled_pool(docs, shingle_words: int) -> dict[int, list[str]]:
    pool = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        sh = word_shingles_py(text, shingle_words)
        if sh:
            pool[int(doc_id)] = sh
            pool[int(doc_id) + 1_000_000] = sh
    return pool


def q31p_expected(docs) -> tuple:
    pairs = _verified_pairs(_doubled_pool(docs, 3), threshold=0.9)
    return (len(pairs),
            round_half_up(sum(p[2] for p in pairs) / len(pairs), 6)
            if pairs else None)


def q42p_expected(docs) -> tuple:
    pairs = _verified_pairs(_doubled_pool(docs, 2), threshold=0.5)
    return (len(pairs),
            round_half_up(sum(p[2] for p in pairs) / len(pairs), 6)
            if pairs else None)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (operators/dedup.py winnowing_fingerprints,
# xxhash64 branch).
# ---------------------------------------------------------------------------

_WINNOW_MOD = 2147483647
_POS_W = 1 << 32


def winnow_fp_set(text: str, k: int = 5, w: int = 8) -> set[int]:
    """Distinct selected fingerprint hashes of one document."""
    L = len(text)
    if L < k:
        return set()
    npos = L - (k - 1)
    packed = []
    for p in range(1, npos + 1):
        h = _signed(xxh64(text[p - 1:p - 1 + k].encode("utf-8"), 42)) % _WINNOW_MOD
        packed.append(h * _POS_W + (_POS_W - 1 - p))
    last = max(1, npos - (w - 1))
    sels = {min(packed[s - 1:s - 1 + w]) for s in range(1, last + 1)}
    return {m // _POS_W for m in sels}


def q48p_expected(docs, k: int = 5, w: int = 8, min_shared: int = 3,
                  max_df: int = 50) -> tuple:
    fps: dict[int, set[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        s = winnow_fp_set(text, k, w)
        if s:
            fps[int(doc_id)] = s
            fps[int(doc_id) + 1_000_000] = s
    df_count = Counter()
    for s in fps.values():
        df_count.update(s)
    keep = {fp for fp, n in df_count.items() if n <= max_df}
    by_fp: dict[int, list[int]] = defaultdict(list)
    for i, s in fps.items():
        for fp in s:
            if fp in keep:
                by_fp[fp].append(i)
    shared = Counter()
    for ids in by_fp.values():
        ids.sort()
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                shared[(ids[ai], ids[bi])] += 1
    pairs = [(s, d, n) for (s, d), n in shared.items() if n >= min_shared]
    return (len(pairs),
            round_half_up(sum(p[2] for p in pairs) / len(pairs), 6)
            if pairs else None)


# ---------------------------------------------------------------------------
# Embedding near-dup via gauss-plane SimHash LSH (operators/similarity.py
# knn_lsh self-join path + dedup.embedding_duplicate_pairs).
# Float folds replicate the JVM expression order exactly (left-to-right).
# ---------------------------------------------------------------------------

def gauss_planes(n_planes: int = 64, dim: int = 64, seed: int = 42):
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _dot_ltr(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _norm_ltr(a) -> float:
    s = 0.0
    for x in a:
        s += x * x
    return math.sqrt(s)


def q40p_expected(emb, threshold: float = 0.9, k: int = 5,
                  n_bands: int = 8, bits_per_band: int = 8) -> tuple:
    """emb: pandas DataFrame vec_id/embedding (float32 arrays)."""
    planes = gauss_planes(n_bands * bits_per_band)
    vecs = {int(i): [float(x) for x in v]
            for i, v in zip(emb["vec_id"], emb["embedding"])}
    norms = {i: _norm_ltr(v) for i, v in vecs.items()}
    sig = {i: "".join("1" if _dot_ltr(v, pv) >= 0 else "0" for pv in planes)
           for i, v in vecs.items()}
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for i, s in sig.items():
        for b in range(n_bands):
            buckets[(b, s[b * bits_per_band:(b + 1) * bits_per_band])].append(i)
    cand = set()
    for members in buckets.values():
        for q in members:
            for c in members:
                if q != c:
                    cand.add((q, c))
    # per-query top-k by (sim desc, neighbor asc)
    per_q: dict[int, list[tuple[float, int]]] = defaultdict(list)
    for q, c in cand:
        sim = _dot_ltr(vecs[q], vecs[c]) / (norms[q] * norms[c])
        per_q[q].append((sim, c))
    pairs = []
    for q, lst in per_q.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for sim, c in lst[:k]:
            if sim >= threshold and q < c:
                pairs.append((q, c, sim))
    return (len(pairs),
            round_half_up(sum(p[2] for p in pairs) / len(pairs), 6)
            if pairs else None)


# ---------------------------------------------------------------------------
# Curation audit with the production hash family (q37p): exact sha256 dedup
# -> star-mode MinHash-LSH + Jaccard verify -> connected components ->
# quality/length filters -> per-source cap. Returns the audit row counts.
# ---------------------------------------------------------------------------

_PUNCT = re.compile(r"[^\w\s]")          # (?U) — Python default is unicode
_LATIN = re.compile(r"[A-Za-z]")
_ETHIOPIC = re.compile(r"[ሀ-፿]")


def whitespace_token_count_py(text: str) -> int:
    return sum(1 for t in split_ws(java_trim(text)) if t != "")


def quality_score_py(text: str) -> float:
    length = len(text)
    words = [t for t in words_of(text) if t != ""]
    n_words = max(len(words), 1)
    uniq_ratio = len(set(words)) / n_words
    punct_density = len(_PUNCT.findall(text)) / max(length, 1)
    alpha = len(_LATIN.findall(text)) + len(_ETHIOPIC.findall(text))
    alpha_density = alpha / max(length, 1)
    len_ok = 1.0 if 20 <= length <= 20000 else 0.3
    return round_half_up(
        0.3 * len_ok + 0.3 * uniq_ratio
        + 0.3 * min(alpha_density * 1.25, 1.0)
        + 0.1 * (1.0 - min(punct_density * 4, 1.0)), 6)


def _components(edges) -> dict[int, int]:
    """node -> min-id-of-component over the undirected edge list."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        for n in (s, d):
            parent.setdefault(n, n)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in parent}


def q37p_expected(docs, min_quality: float = 0.3, min_tokens: int = 5,
                  max_tokens: int = 100_000, near_dup_threshold: float = 0.8,
                  per_source_cap: int = 100) -> list[tuple]:
    """Audit rows [(stage_idx, stage, rows_surviving), ...]."""
    rows = [(int(i), t, s) for i, t, s in
            zip(docs["doc_id"], docs["text"], docs["source"])]
    n_input = len(rows)

    # exact dedup: min doc_id per sha256(text)
    best: dict[bytes, int] = {}
    for i, t, _ in rows:
        fp = hashlib.sha256(t.encode("utf-8")).digest()
        if fp not in best or i < best[fp]:
            best[fp] = i
    kept_ids = set(best.values())
    kept = [(i, t, s) for i, t, s in rows if i in kept_ids]

    # near-dup: star-mode MinHash-LSH candidates, Jaccard >= t verify, CC
    pool = {i: sh for i, t, _ in kept
            if (sh := word_shingles_py(t, 3))}
    verified = _verified_pairs(pool, near_dup_threshold, pair_mode="star")
    comp = _components([(s, d) for s, d, _ in verified])
    reps: dict[int, int] = {}
    for i, _, _ in kept:
        c = comp.get(i, i)
        if c not in reps or i < reps[c]:
            reps[c] = i
    dedup_ids = set(reps.values())
    deduped = [(i, t, s) for i, t, s in kept if i in dedup_ids]
    n_dedup = len(deduped)

    scored = [(i, t, s, quality_score_py(t), whitespace_token_count_py(t))
              for i, t, s in deduped]
    filtered = [r for r in scored
                if r[3] >= min_quality and min_tokens <= r[4] <= max_tokens]
    n_filtered = len(filtered)

    by_src: dict[str, list] = defaultdict(list)
    for r in filtered:
        by_src[r[2]].append(r)
    n_capped = 0
    for lst in by_src.values():
        lst.sort(key=lambda r: (-r[3], r[0]))   # quality desc, doc_id asc
        n_capped += min(len(lst), per_source_cap)

    return [(0, "input", n_input), (1, "dedup", n_dedup),
            (2, "quality_and_length", n_filtered),
            (3, "per_source_cap", n_capped)]

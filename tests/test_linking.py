"""Entity linking: LSH blocking recall, connected-components correctness vs a
Python union-find ground truth, and end-to-end canonicalization."""

import random

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.operators import linking
from amharic_ecommerce_data_extractor_spark.operators.linking import (
    canonicalize_surfaces,
    canonicalize_triples,
    connected_components,
    lsh_candidate_pairs,
)


class UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@pytest.mark.parametrize("n,m,seed", [(30, 15, 1), (50, 60, 2), (80, 40, 3), (10, 45, 4)])
def test_connected_components_vs_union_find(spark, n, m, seed):
    rng = random.Random(seed)
    edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    uf = UF()
    for a, b in edges:
        uf.union(a, b)
    nodes = {x for e in edges for x in e}
    want = {x: min(y for y in nodes if uf.find(y) == uf.find(x)) for x in nodes}
    assert got == want


@pytest.mark.parametrize("n,m,seed", [(60, 80, 7), (40, 20, 8)])
def test_cc_fastpath_matches_distributed(spark, monkeypatch, n, m, seed):
    """The single-task union-find fast path (default for small edge sets)
    must reach exactly the star iteration's fixed point, and the threshold
    gate must route: small set → rounds=0 (fast path), forced distributed →
    rounds>0."""
    rng = random.Random(seed)
    edges = [(a, b) for a, b in
             ((rng.randint(0, n - 1), rng.randint(0, n - 1)) for _ in range(m))
             if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    st_fast: dict = {}
    fast = {r["node"]: r["component"]
            for r in connected_components(df, stats=st_fast).collect()}
    st_dist: dict = {}
    monkeypatch.setattr(linking, "_UNIONFIND_MAX_EDGES", 0)
    dist = {r["node"]: r["component"]
            for r in connected_components(df, stats=st_dist).collect()}
    assert fast == dist
    assert st_fast["rounds"] == 0 and st_fast["converged"]
    assert st_dist["rounds"] > 0 and st_dist["converged"]


def test_connected_components_chain(spark):
    # worst-case diameter: a long path — star algorithm converges in O(log n)
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    stats = {}
    got = {r["node"]: r["component"]
           for r in connected_components(df, stats=stats).collect()}
    assert got == {i: 0 for i in range(41)}
    assert stats["converged"] and stats["rounds"] < 50


def test_connected_components_warns_when_capped(spark, monkeypatch):
    # max_iter too small for the diameter → loud RuntimeWarning instead of a
    # silently-non-minimal component mapping (the result may still be built,
    # but the caller is told it is not a certified fixed point)
    import warnings

    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    stats = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        # no union-find: the fast path always reaches the exact fixed
        # point, so max_iter cannot cap it
        monkeypatch.setattr(linking, "_UNIONFIND_MAX_EDGES", 0)
        connected_components(df, max_iter=1, stats=stats)
    assert not stats["converged"] and stats["rounds"] == 1
    assert any("fixed point" in str(w.message) for w in caught
               if issubclass(w.category, RuntimeWarning))


def test_lsh_finds_near_duplicates(spark):
    surfaces = [
        (1, "mini blender electric"),
        (2, "mini blender electric!"),     # near-dup of 1
        (3, "mini  blender electric"),     # near-dup of 1 (extra space)
        (4, "stainless steel stove"),
        (5, "stainless steel stove 2024"), # near-dup of 4
        (6, "ድስት ምጣድ"),
        (7, "completely different thing"),
    ]
    df = spark.createDataFrame(surfaces, "node_id long, surface string")
    pairs = {(r["src"], r["dst"]) for r in
             lsh_candidate_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (4, 5) in pairs
    assert all(7 not in p for p in pairs)
    assert all(6 not in p for p in pairs)


def test_canonicalize_surfaces_and_triples(spark):
    surf = spark.createDataFrame(
        [("PRODUCT", "mini blender electric"),
         ("PRODUCT", "mini blender electric!"),
         ("PRODUCT", "ድስት"),
         ("LOC", "መገናኛ ሲቲ ሞል"),
         ("LOC", "መገናኛ ሲቲ ሞል ፎቅ")],
        "type string, surface string")
    canon = canonicalize_surfaces(surf, threshold=0.5)
    rows = {(r["type"], r["surface"]): r["canonical_surface"] for r in canon.collect()}
    # both blender variants share one canonical form (the lexicographic min)
    assert rows[("PRODUCT", "mini blender electric")] == rows[("PRODUCT", "mini blender electric!")]
    assert rows[("PRODUCT", "ድስት")] == "ድስት"
    assert rows[("LOC", "መገናኛ ሲቲ ሞል")] == rows[("LOC", "መገናኛ ሲቲ ሞል ፎቅ")]

    triples = spark.createDataFrame(
        [("v1", "sells", "mini blender electric!", 1, 1.0),
         ("mini blender electric!", "priced_at", "500.0", 1, 1.0),
         ("v1", "located_in", "መገናኛ ሲቲ ሞል ፎቅ", 1, 1.0),
         ("v1", "contact", "0911", 1, 1.0)],
        "subj string, pred string, obj string, message_id long, confidence double")
    fixed = canonicalize_triples(triples, canon).collect()
    by_pred = {r["pred"]: r for r in fixed}
    assert by_pred["sells"]["obj"] == "mini blender electric"
    assert by_pred["priced_at"]["subj"] == "mini blender electric"
    assert by_pred["located_in"]["obj"] == rows[("LOC", "መገናኛ ሲቲ ሞል")]
    assert by_pred["contact"]["obj"] == "0911"


def test_banded_exchange_carries_ids_only(spark):
    """Scale guard (VERDICT r1 fix): the LSH band self-join must shuffle only
    (nid, band, sig) — shingle arrays must not ride the banded exchange (they
    would be replicated once per band on both sides). The optimized plan's
    SortMergeJoin/ShuffledHashJoin on (band, sig) must not reference
    'shingles' upstream of the first join; shingles appear only in the later
    rejoin-by-id."""
    import re

    surfaces = spark.createDataFrame(
        [(i, f"surface text number {i}") for i in range(50)], "node_id long, surface string")
    pairs = lsh_candidate_pairs(surfaces, threshold=0.5)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # both banded self-join sides must prune to (nid, minhash) BEFORE the
    # band-key Generate/explode — i.e. the plan contains the pruned Project
    # twice; the pre-fix plan projected (nid, shingles, minhash) there
    pruned = re.findall(r"Project \[nid#\d+L?, minhash#\d+\]", plan)
    assert len(pruned) >= 2, f"banded sides not pruned to (nid, minhash):\n{plan}"
    # and the band join itself must be on (band, sig), not carry shingle cols
    band_join = [ln for ln in plan.splitlines()
                 if "Join Inner" in ln and "band#" in ln and "sig#" in ln]
    assert band_join and all("shingles" not in ln and "sh_a" not in ln
                             for ln in band_join)


def test_connected_components_leaves_session_conf_untouched(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    during_holder = {}

    comp = connected_components(edges)
    comp.collect()
    during_holder["after"] = spark.conf.get("spark.sql.shuffle.partitions")
    assert during_holder["after"] == before


def test_canonicalization_never_crosses_entity_types(spark):
    """Review finding (r2): near-identical surfaces of DIFFERENT types must
    not merge — the LSH band join is scoped by type."""
    surfaces = spark.createDataFrame(
        [("PRODUCT", "bole shoes"), ("LOC", "bole shoe"),
         ("PRODUCT", "bole shoe"), ("LOC", "merkato")],
        "type string, surface string")
    canon = canonicalize_surfaces(surfaces, threshold=0.5)
    rows = {(r["type"], r["surface"]): r for r in canon.collect()}
    # the two PRODUCT variants merge...
    assert rows[("PRODUCT", "bole shoes")]["canonical_id"] == \
           rows[("PRODUCT", "bole shoe")]["canonical_id"]
    # ...but the LOC with the same spelling keeps its own canonical identity
    assert rows[("LOC", "bole shoe")]["canonical_id"] != \
           rows[("PRODUCT", "bole shoe")]["canonical_id"]
    assert rows[("LOC", "bole shoe")]["canonical_surface"] == "bole shoe"

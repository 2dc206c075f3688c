"""Pinned pandas oracle: the reference's *working* end-to-end semantics
(notebook 03 cells 7→25 — the src scorecard module crashes, SURVEY.md
Appendix A) reimplemented as a small eager pandas program.

This is the parity target for the Spark pipeline: tests assert triple-set
P/R ≥ 0.95 (they are in fact exactly equal) and scorecard value equality.
Single-process by design — it exists to be obviously-correct, not fast.
"""

from __future__ import annotations

import pandas as pd

from . import labeler as lb
from . import textprep as tp


def extract_frame(messages: pd.DataFrame, text_col: str = "content") -> pd.DataFrame:
    df = messages.copy()
    clean = df[text_col].map(tp.preprocess_text)
    recs = [lb.extract_message(c) for c in clean]
    df["preprocessed_text"] = clean
    for f in ("tokens", "labels", "products", "prices", "locations", "contacts", "price_values"):
        df[f] = [r[f] for r in recs]
    return df


def emit_triples(extracted: pd.DataFrame, vendor_col: str = "repo") -> pd.DataFrame:
    rows: list[tuple] = []
    for _, r in extracted.iterrows():
        mid, vendor = r["message_id"], r[vendor_col]
        prods = list(dict.fromkeys(r["products"]))
        for p in prods:
            rows.append((vendor, "sells", p, mid, 1.0))
        if r["products"] and r["price_values"]:
            seen = set()
            for i, pv in enumerate(r["price_values"]):
                subj = r["products"][min(i, len(r["products"]) - 1)]
                key = (subj, str(float(pv)))
                if key not in seen:
                    seen.add(key)
                    rows.append((subj, "priced_at", str(float(pv)), mid, 1.0))
        for loc in dict.fromkeys(r["locations"]):
            rows.append((vendor, "located_in", loc, mid, 1.0))
        for c in dict.fromkeys(r["contacts"]):
            rows.append((vendor, "contact", c, mid, 1.0))
    return pd.DataFrame(rows, columns=["subj", "pred", "obj", "message_id", "confidence"])


def vendor_scorecard(extracted: pd.DataFrame, vendor_col: str = "repo") -> pd.DataFrame:
    df = extracted.copy()
    df["views"] = df["views"].fillna(0).astype("int64")
    recs = []
    for vendor, g in df.groupby(vendor_col, sort=True):
        g = g.sort_values("message_id")
        total = len(g)
        avg_views = g["views"].mean() if not g["views"].dropna().empty else 0
        rng_days = (g["message_date"].max() - g["message_date"].min()).days + 1
        ppw = float(total) if rng_days <= 0 else total / (rng_days / 7)
        flat = [p for sub in g["price_values"] for p in sub]
        avg_price = sum(flat) / len(flat) if flat else None
        top = g.loc[g["views"].idxmax()]
        recs.append({
            "vendor": vendor,
            "total_posts": total,
            "avg_views_per_post": float(avg_views),
            "posts_per_week": ppw,
            "avg_price_etb": avg_price,
            "top_product": top["products"][0] if top["products"] else "N/A",
            "top_product_price": top["price_values"][0] if top["price_values"] else None,
        })
    sc = pd.DataFrame(recs)
    weights = {"avg_views_per_post": 0.4, "posts_per_week": 0.4, "avg_price_filled": 0.2}
    sc["avg_price_filled"] = sc["avg_price_etb"].fillna(0.0)
    score = pd.Series(0.0, index=sc.index)
    for m, w in weights.items():
        lo, hi = sc[m].min(), sc[m].max()
        norm = pd.Series(0.0, index=sc.index) if hi == lo else (sc[m] - lo) / (hi - lo)
        score = score + norm * w
    sc["lending_score_0_100"] = score * 100.0
    return (
        sc.drop(columns=["avg_price_filled"])
        .sort_values(["lending_score_0_100", "vendor"], ascending=[False, True])
        .reset_index(drop=True)
    )


def round_half_up(v, n: int = 6):
    """Spark-compatible rounding: java.math.BigDecimal.valueOf(double)
    (shortest decimal repr, same as Python repr) quantized HALF_UP — NOT
    Python's round() (HALF_EVEN). Used when pinning fixture values the
    driver compares exactly against Spark's F.round output."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return v
    return float(Decimal(repr(float(v))).quantize(
        Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP))


def triples_profile(triples: pd.DataFrame) -> pd.DataFrame:
    """Twin of queries.q32: per-predicate triple/subject/object counts."""
    g = triples.groupby("pred", sort=True)
    out = pd.DataFrame({
        "pred": list(g.groups.keys()),
        "n_triples": g.size().values,
        "n_subjects": g["subj"].nunique().values,
        "n_objects": g["obj"].nunique().values,
    })
    for c in ("n_triples", "n_subjects", "n_objects"):
        out[c] = out[c].astype("int64")
    return out.reset_index(drop=True)


def scorecard_view(sc: pd.DataFrame) -> pd.DataFrame:
    """Twin of queries.q33: the scorecard projection with Spark-equivalent
    HALF_UP rounding."""
    out = pd.DataFrame({
        "vendor": sc["vendor"],
        "total_posts": sc["total_posts"].astype("int64"),
        "avg_views_per_post": [round_half_up(v) for v in sc["avg_views_per_post"]],
        "posts_per_week": [round_half_up(v) for v in sc["posts_per_week"]],
        "lending_score_0_100": [round_half_up(v) for v in sc["lending_score_0_100"]],
    })
    return out.reset_index(drop=True)


# ---------------------------------------------------------------------------
# Independent pandas twin of the md5-variant MinHash-LSH canonicalization
# (operators/linking.py with hash_fn='md5') — union-find instead of
# large-star/small-star, hashlib instead of Spark expressions.
# ---------------------------------------------------------------------------

def _md5_60bit(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _char_shingles(s: str, n: int = 3) -> frozenset:
    s = s.strip().lower()
    return frozenset(s[i:i + n] for i in range(max(len(s) - (n - 1), 1)))


def entity_surfaces(extracted: pd.DataFrame) -> pd.DataFrame:
    """Twin of plans.pipeline.entity_surfaces: distinct non-empty
    (type, surface) from the products/locations arrays."""
    rows = set()
    for col, etype in (("products", "PRODUCT"), ("locations", "LOC")):
        for arr in extracted[col]:
            for surf in arr:
                if surf.strip():
                    rows.add((etype, surf))
    return pd.DataFrame(sorted(rows), columns=["type", "surface"])


def canonicalize_counts(surfaces: pd.DataFrame, shingle_n: int = 3,
                        bands: int = 8, rows: int = 2,
                        threshold: float = 0.6) -> pd.DataFrame:
    """Twin of queries.q34: (type, n_surfaces, n_canonical) after md5-MinHash
    LSH blocking + exact-Jaccard verify + connected components (union-find)."""
    import hashlib
    from collections import defaultdict

    nodes = []  # (node_id, type, shingles)
    for t, s in zip(surfaces["type"], surfaces["surface"]):
        nid = _md5_60bit(f"{t}\x1f{s}")
        nodes.append((nid, t, _char_shingles(s, shingle_n)))

    from ..operators.linking import MINHASH_P, minhash_seed_constants

    num_hashes = bands * rows
    ab = minhash_seed_constants(num_hashes)
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    shingles_of: dict[int, frozenset] = {}
    for nid, t, sh in nodes:
        shingles_of[nid] = sh
        h0s = [_md5_60bit(g) % MINHASH_P for g in sh]
        sig = [min((a * h + b) % MINHASH_P for h in h0s) for a, b in ab]
        for b in range(bands):
            key = ",".join(str(v) for v in sig[b * rows:(b + 1) * rows])
            bsig = hashlib.md5(key.encode()).hexdigest()
            # bucket key includes the entity type: linking never crosses types
            buckets[(t, b, bsig)].append(nid)

    parent: dict[int, int] = {nid: nid for nid, _, _ in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for members in buckets.values():
        ms = sorted(set(members))
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                sa, sb = shingles_of[a], shingles_of[b]
                jac = len(sa & sb) / len(sa | sb)
                if jac >= threshold:
                    union(a, b)

    per_type: dict[str, list[int]] = defaultdict(list)
    for nid, t, _sh in nodes:
        per_type[t].append(find(nid))
    out = pd.DataFrame(
        [(t, len(v), len(set(v))) for t, v in sorted(per_type.items())],
        columns=["type", "n_surfaces", "n_canonical"])
    out["n_surfaces"] = out["n_surfaces"].astype("int64")
    out["n_canonical"] = out["n_canonical"].astype("int64")
    return out


def precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got and not want:
        return 1.0, 1.0
    tp_ = len(got & want)
    p = tp_ / len(got) if got else 0.0
    r = tp_ / len(want) if want else 0.0
    return p, r

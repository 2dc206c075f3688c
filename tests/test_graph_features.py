"""Exact reference for ``vendor_graph_features``.

A pandas reference, written from the operator's contract, is compared row
for row (doubles included, ``==``) with the Spark operator on a hand-built
canonical triple table that holds the edge cases of the contract:

* a ``sells`` edge with a null ``obj`` (a mention, not a product);
* a vendor whose only ``sells`` edge has a null ``obj`` (0 products);
* a vendor with only ``contact`` / ``located_in`` edges (no row);
* products with no price, a price that is not a number, a null price;
* three vendors tied on ``n_products`` (ranked by vendor name).

Each product price is a mean of exactly representable values, and every
vendor-level average is rounded to 6 places, so the comparison does not
depend on the order Spark adds its partial sums in.
"""

import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from amharic_ecommerce_data_extractor_spark.operators.graph_features import (
    vendor_graph_features,
)

SCHEMA = "subj string, pred string, obj string, message_id long, confidence double"

_EDGES = [
    # v_a: 3 products + a null-obj mention; p1 in three messages
    ("v_a", "sells", "p1"), ("v_a", "sells", "p1"), ("v_a", "sells", "p1"),
    ("v_a", "sells", "p2"), ("v_a", "sells", "p3"), ("v_a", "sells", None),
    ("v_a", "located_in", "Addis"), ("v_a", "located_in", "Addis"),
    ("v_a", "located_in", "Bole"), ("v_a", "contact", "0911"),
    # v_b: 2 products, an even-sized median, a null contact
    ("v_b", "sells", "p1"), ("v_b", "sells", "p4"), ("v_b", "sells", "p4"),
    ("v_b", "contact", "0922"), ("v_b", "contact", "0933"),
    ("v_b", "contact", None),
    # v_c: only sells edges with a null obj
    ("v_c", "sells", None), ("v_c", "sells", None),
    # v_d: no sells edge at all, so no row
    ("v_d", "contact", "0944"), ("v_d", "located_in", "Adama"),
    # v_e: 2 products, one without any price
    ("v_e", "sells", "p2"), ("v_e", "sells", "p5"), ("v_e", "located_in", "Bole"),
    # v_f: 2 products, one priced only by a non-number
    ("v_f", "sells", "p6"), ("v_f", "sells", "p7"),
    # prices: two values, three values (inexact mean), a non-number beside
    # a number, a null, only a non-number
    ("p1", "priced_at", "100"), ("p1", "priced_at", "250.5"),
    ("p2", "priced_at", "99.75"), ("p2", "priced_at", None),
    ("p3", "priced_at", "10"), ("p3", "priced_at", "10"), ("p3", "priced_at", "11"),
    ("p4", "priced_at", "1200"), ("p4", "priced_at", "x12"),
    ("p6", "priced_at", "abc"),
    ("p7", "priced_at", "7.5"),
]

ROWS = [(s, p, o, i, 1.0) for i, (s, p, o) in enumerate(_EDGES)]


def _round6(x):
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal form."""
    if x is None or pd.isna(x):
        return None
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _median(xs):
    """Spark's exact ``percentile(x, 0.5)``: linear interpolation."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = (len(xs) - 1) * 0.5
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi:
        return xs[lo]
    return (hi - pos) * xs[lo] + (pos - lo) * xs[hi]


def reference(rows) -> list[tuple]:
    df = pd.DataFrame(rows, columns=["subj", "pred", "obj", "message_id", "confidence"])
    sells = df[df.pred == "sells"]
    priced = df[df.pred == "priced_at"].assign(
        v=lambda d: pd.to_numeric(d.obj, errors="coerce"))
    price = {p: _round6(g.v.dropna().mean()) if g.v.notna().any() else None
             for p, g in priced.groupby("subj")}
    total = len(sells)
    out = []
    for vendor, g in sells.groupby("subj"):
        products = set(g.obj.dropna())
        prices = [price[p] for p in products if price.get(p) is not None]
        edges = df[df.subj == vendor]
        out.append([
            vendor, len(products), len(g),
            edges[edges.pred == "located_in"].obj.dropna().nunique(),
            edges[edges.pred == "contact"].obj.dropna().nunique(),
            _round6(sum(prices) / len(prices)) if prices else None,
            _round6(_median(prices)),
        ])
    out.sort(key=lambda r: (-r[1], r[0]))
    return sorted(tuple(r + [rank, _round6(r[2] / total)])
                  for rank, r in enumerate(out, 1))


def test_reference_covers_the_edge_cases():
    ref = {r[0]: r for r in reference(ROWS)}
    assert set(ref) == {"v_a", "v_b", "v_c", "v_e", "v_f"}
    assert ref["v_a"][1:3] == (3, 6)  # the null-obj mention counts
    assert ref["v_c"][1:3] == (0, 2) and ref["v_c"][5] is None
    assert ref["v_b"][4] == 2 and ref["v_b"][6] == 687.625
    assert ref["v_a"][5] == 95.111111 and ref["v_a"][6] == 99.75
    # three vendors tie on two products and rank by name
    assert [ref[v][7] for v in ("v_b", "v_e", "v_f")] == [2, 3, 4]


def test_vendor_graph_features_equals_reference(spark):
    triples = spark.createDataFrame(ROWS, SCHEMA).repartition(3)
    got = sorted(map(tuple, vendor_graph_features(triples).collect()))
    assert got == reference(ROWS)

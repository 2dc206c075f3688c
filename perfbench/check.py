"""Output checks, run outside the timed window.

kg_batch: the pipeline's stages are compared with the pandas oracle
(``kernels.pandas_oracle``) computed on the same corpus:

* triples: the triple set exactly;
* scorecard: every vendor's row, to 1e-9;
* link: the (type, surface) set equals the oracle's entity surfaces; each
  canonical group holds one type and names its smallest surface; every
  merged group is connected by pairs whose character-shingle Jaccard reaches
  the linking threshold (no merge without a verified chain); and the number
  of canonical entities per type is within a small tolerance of the oracle's
  own MinHash-LSH linking (md5 hashes, so the two draw different candidate
  pairs; a run that skips linking leaves every surface alone and fails);
* graph_triples: the oracle triples rewritten through the run's own link
  table, exactly.

registry: each query's collected rows equal its DuckDB ``ORACLE_SQL`` twin
exactly (column names, canonical types, values; order-insensitive); a query
that raised has no rows and fails.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq

SCORE_COLS = ("total_posts", "avg_views_per_post", "posts_per_week",
              "avg_price_etb", "top_product_price", "lending_score_0_100")
LINK_THRESHOLD = 0.6  # run_pipeline's default lsh_threshold
# canonical entities per type may differ from the md5-LSH oracle by this
# share of the type's surfaces (different hash family, same banding)
LINK_COUNT_TOLERANCE = 0.02
TRIPLE_COLS = ["subj", "pred", "obj", "message_id"]


# ---------------------------------------------------------------------------
# kg_batch
# ---------------------------------------------------------------------------

def oracle(pdf: pd.DataFrame) -> dict:
    from amharic_ecommerce_data_extractor_spark.kernels import pandas_oracle as po

    ex = po.extract_frame(pdf)
    tri = po.emit_triples(ex)
    surfaces = po.entity_surfaces(ex)
    counts = po.canonicalize_counts(surfaces, threshold=LINK_THRESHOLD)
    return {
        "triples": tri[TRIPLE_COLS],
        "scorecard": po.vendor_scorecard(ex),
        "surfaces": surfaces,
        "canonical": dict(zip(counts["type"], counts["n_canonical"])),
        "input": {
            "rows": len(pdf),
            "distinct_texts": int(pdf["content"].nunique(dropna=False)),
            "product_surfaces": int((surfaces["type"] == "PRODUCT").sum()),
        },
    }


def _read(stage_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(stage_dir, "data")).to_pandas()


def _triple_set(df: pd.DataFrame) -> set:
    return set(df[TRIPLE_COLS].itertuples(index=False, name=None))


def triples_ok(stage_dir: str, want: dict) -> bool:
    return _triple_set(_read(stage_dir)) == _triple_set(want["triples"])


def _same(g, w) -> bool:
    g_null = g is None or (isinstance(g, float) and math.isnan(g))
    w_null = w is None or (isinstance(w, float) and math.isnan(w))
    if g_null or w_null:
        return g_null and w_null
    return abs(g - w) < 1e-9


def scorecard_ok(stage_dir: str, want: dict) -> bool:
    got = _read(stage_dir).sort_values("vendor").reset_index(drop=True)
    exp = want["scorecard"].sort_values("vendor").reset_index(drop=True)
    if got["vendor"].tolist() != exp["vendor"].tolist():
        return False
    if got["top_product"].tolist() != exp["top_product"].tolist():
        return False
    return all(_same(g, w) for c in SCORE_COLS
               for g, w in zip(got[c].tolist(), exp[c].tolist()))


def _connected(members: list[str], shingles) -> bool:
    """True if the members form one component under Jaccard >= threshold."""
    sets = [shingles(s) for s in members]
    seen, todo = {0}, [0]
    while todo:
        i = todo.pop()
        for j in range(len(sets)):
            if j not in seen and \
                    len(sets[i] & sets[j]) >= LINK_THRESHOLD * len(sets[i] | sets[j]):
                seen.add(j)
                todo.append(j)
    return len(seen) == len(sets)


def link_ok(stage_dir: str, want: dict) -> bool:
    from amharic_ecommerce_data_extractor_spark.kernels.pandas_oracle import _char_shingles

    got = _read(stage_dir)
    keys = list(zip(got["type"], got["surface"]))
    if len(set(keys)) != len(keys) or \
            set(keys) != set(zip(want["surfaces"]["type"], want["surfaces"]["surface"])):
        return False
    groups = defaultdict(list)
    for t, s, cid, rep in zip(got["type"], got["surface"], got["canonical_id"],
                              got["canonical_surface"]):
        groups[cid].append((t, s, rep))
    per_type: dict[str, int] = defaultdict(int)
    for rows in groups.values():
        types, surfaces, reps = zip(*rows)
        if len(set(types)) != 1 or set(reps) != {min(surfaces)}:
            return False
        if len(rows) > 1 and not _connected(sorted(surfaces), _char_shingles):
            return False
        per_type[types[0]] += 1
    n_surfaces = got.groupby("type").size().to_dict()
    return set(per_type) == set(want["canonical"]) and all(
        abs(per_type[t] - want["canonical"][t]) <= max(2, LINK_COUNT_TOLERANCE * n_surfaces[t])
        for t in per_type)


def graph_triples_ok(stage_dir: str, link_dir: str, want: dict) -> bool:
    link = _read(link_dir)
    canon = {(t, s): c for t, s, c in zip(link["type"], link["surface"],
                                          link["canonical_surface"])}
    # the pipeline's rewrite: products on both sides, locations as objects
    rewrite = {"sells": ("obj", "PRODUCT"), "priced_at": ("subj", "PRODUCT"),
               "located_in": ("obj", "LOC")}
    exp = set()
    for subj, pred, obj, mid in want["triples"].itertuples(index=False, name=None):
        side, etype = rewrite.get(pred, (None, None))
        if side == "subj":
            subj = canon.get((etype, subj), subj)
        elif side == "obj":
            obj = canon.get((etype, obj), obj)
        exp.add((subj, pred, obj, mid))
    return _triple_set(_read(stage_dir)) == exp


def kg_failures(wd: str, want: dict) -> int:
    """Failed checks among the stages with an oracle."""
    j = lambda d: os.path.join(wd, d)  # noqa: E731
    return sum(not ok for ok in (
        triples_ok(j("triples"), want),
        scorecard_ok(j("scorecard"), want),
        link_ok(j("link"), want),
        graph_triples_ok(j("graph_triples"), j("link"), want),
    ))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon_spark_type(dt: str) -> str:
    dt = dt.lower()
    if dt in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return "int"
    if dt in ("double", "float"):
        return "float64"
    for prefix, label in (("decimal", "decimal"), ("timestamp", "timestamp"),
                          ("array", "list")):
        if dt.startswith(prefix):
            return label
    return dt


def _canon_arrow_type(t) -> str:
    import pyarrow as pa

    for test, label in ((pa.types.is_integer, "int"), (pa.types.is_float64, "float64"),
                        (pa.types.is_floating, "float32"), (pa.types.is_decimal, "decimal"),
                        (pa.types.is_timestamp, "timestamp"), (pa.types.is_date, "date"),
                        (pa.types.is_string, "string"), (pa.types.is_large_string, "string"),
                        (pa.types.is_list, "list"), (pa.types.is_large_list, "list"),
                        (pa.types.is_boolean, "boolean")):
        if test(t):
            return label
    return str(t)


def _normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(0.0 if isinstance(r[i], float) and r[i] == 0.0 else r[i] for i in order)
           for r in rows]
    return sorted(out, key=repr)


def _value_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def registry_failures(results: dict, names: list[str], sf_dir: str) -> list[str]:
    """Names of the queries whose rows differ from their DuckDB twin, or
    that raised (no rows recorded)."""
    import duckdb

    from amharic_ecommerce_data_extractor_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name in names:
        got = results.get(name)
        if got is None:
            bad.append(name)
            continue
        arrow = con.execute(ORACLE_SQL[name]).fetch_arrow_table()
        dcols = arrow.column_names
        stypes = dict(zip(got["columns"], map(_canon_spark_type, got["types"])))
        dtypes = {c: _canon_arrow_type(arrow.schema.field(c).type) for c in dcols}
        g = _normalize(got["rows"], got["columns"])
        w = _normalize([tuple(d.values()) for d in arrow.to_pylist()], dcols)
        if sorted(got["columns"]) != sorted(dcols) or stypes != dtypes or len(g) != len(w) \
                or not all(_value_eq(a, b) for gr, wr in zip(g, w) for a, b in zip(gr, wr)):
            bad.append(name)
    con.close()
    return bad

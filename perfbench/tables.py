"""Seeded input tables for the registry workload.

The query registry (``queries.SPARK_QUERIES``) reads ten parquet tables: a
TPC-H-like star schema (region nation customer supplier part orders
lineitem), an ``events`` stream table, ``documents`` and ``embeddings``.
This module writes all ten with the shapes and value domains of the
registry's smallest scale factor (lineitem ~6,000 rows): the same column
names and types, the same key ranges, categorical values and
distributions. The same seed always gives the same rows.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
     "events": 1000, "documents": 500, "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_N_NEAR_DUPS = 25  # documents that repeat an earlier one with " dup" appended
_DIM = 64


def _days(rng, start: dt.datetime, n_days: int, size: int) -> list:
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, n_days, size)]


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def frames(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": _REGIONS})
    t["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": np.arange(25, dtype="int32") % 5})
    n = N["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n)})
    n = N["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = N["part"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n), rng.choice(_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n), 2)})
    n = N["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, N["customer"], n).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n),
        "o_orderpriority": rng.choice(_PRIORITIES, n)})
    lines = rng.integers(1, 8, n)  # 1..7 line items per order
    okeys = np.repeat(np.arange(n, dtype="int64"), lines)
    m = len(okeys)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, N["part"], m).astype("int64"),
        "l_suppkey": rng.integers(0, N["supplier"], m).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, m)}).sample(
            frac=1.0, random_state=seed % 2**32).reset_index(drop=True)
    n = N["events"]
    offsets = np.sort(rng.uniform(0, 30 * 86400, n))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=int(s * 1e6))
               for s in offsets],
        "user_id": rng.integers(0, 15, n).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})
    n = N["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= n - _N_NEAR_DUPS:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    n = N["embeddings"]
    vec = rng.standard_normal((n, _DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n).astype("int32")})
    return t


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Writes ``<out_dir>/<table>.parquet`` for every table; returns the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in frames(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(1, "embedding", pa.array(
                [v.tolist() for v in df["embedding"]], type=pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps="us")
        rows[name] = len(df)
    return rows

"""Skew-handling operators (graft G4 — mega-vendor keys own ~50% of rows in
the corpus, FIXTURES.md F1).

What Spark already solves vs what needs explicit salting:
* algebraic groupBy aggregates (sum/count/avg/min/max/max_by) — partial
  map-side aggregation means the hot key's reducer receives one partial row
  PER MAP TASK, not per input row: no salting needed (the scorecard relies
  on this).
* skewed JOINS — AQE skew-join splitting handles sort-merge joins at runtime
  (enabled in session.py), so no salted join is provided.

What still skews and what this module provides:
* window functions over a hot key (rank/top-k): ALL rows of the key land in
  one partition to be sorted. ``salted_topk`` replaces the window with a
  two-phase candidate reduction.
* non-algebraic aggregations (collect_list/collect_set of big groups):
  ``salted_collect_set`` does two-phase set union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _salt(col, n_salts: int):
    return F.pmod(F.xxhash64(col), F.lit(n_salts))


def salted_topk(df: DataFrame, key: str, order_col: str, k: int,
                tie_col: str, n_salts: int = 16) -> DataFrame:
    """Top-k rows per key ordered by (order_col desc, tie_col asc) without a
    single-reducer sort of the hot key: phase 1 takes top-k within
    (key, salt) — bounded k·n_salts candidates per key — phase 2 ranks the
    candidates. Identical result to the naive window."""
    salted = df.withColumn("_salt", _salt(F.col(tie_col), n_salts))
    w1 = Window.partitionBy(key, "_salt").orderBy(F.desc(order_col), F.asc(tie_col))
    cand = (salted.withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") <= k).drop("_rn", "_salt"))
    w2 = Window.partitionBy(key).orderBy(F.desc(order_col), F.asc(tie_col))
    return (cand.withColumn("rnk", F.row_number().over(w2))
            .where(F.col("rnk") <= k))


def salted_collect_set(df: DataFrame, key: str, value: str,
                       n_salts: int = 16) -> DataFrame:
    """collect_set per key via two-phase set union; the hot key's reducer
    merges n_salts pre-deduped arrays instead of every raw row."""
    phase1 = (df.withColumn("_salt", _salt(F.col(value), n_salts))
              .groupBy(key, "_salt")
              .agg(F.collect_set(value).alias("_partial")))
    return (phase1.groupBy(key)
            .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("_partial"))))
                 .alias(f"{value}_set")))


def skew_profile(df: DataFrame, key: str, top_n: int = 5) -> DataFrame:
    """Diagnostic: per-key share of rows for the heaviest keys."""
    total = df.count()
    return (df.groupBy(key).agg(F.count("*").alias("n"))
            .withColumn("share", F.round(F.col("n") / F.lit(float(total)), 4))
            .orderBy(F.desc("n")).limit(top_n))

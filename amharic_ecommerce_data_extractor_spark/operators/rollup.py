"""Entity rollup — the reference's scorecard input path (SURVEY.md A1), for
callers that start from a token-level predictions table rather than the
fused extraction output.

``entities_per_message`` — reference ``vendor_scorecard.py:32-58``: group
token rows by message, per entity type collect the distinct entity tokens.
The reference substring-matches labels ('PRODUCT' in label catches both B-
and I-) and joins a *set* (nondeterministic order); here arrays are kept and
sorted — the deterministic twin documented in SURVEY §7 risk 2. The
reference's metadata join (J1) has no counterpart: the fused extraction
frame already carries each message's metadata and entities in one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_TYPES = [("products", "PRODUCT"), ("prices", "PRICE"),
          ("locations", "LOC"), ("contacts", "CONTACT_INFO")]


def entities_per_message(predictions: DataFrame,
                         label_col: str = "predicted_label") -> DataFrame:
    """(message_id, token, predicted_label) rows →
    (message_id, products, prices, locations, contacts) with sorted-distinct
    token arrays per type (A1)."""
    aggs = []
    for name, tag in _TYPES:
        aggs.append(
            F.array_sort(F.array_distinct(F.collect_list(
                F.when(F.col(label_col).contains(tag), F.col("token"))
            ))).alias(name))
    return predictions.groupBy("message_id").agg(*aggs)

"""The registry workload's query list.

Seven ``queries.SPARK_QUERIES`` entries, each with a DuckDB twin: five of
the slow leaves ROADMAP names (q11, q18, q19, q48, q49), plus q21
(similarity) and q35 (multimodal), the operators groups those leave out.
Each query is filed under the group of the operators module it calls;
"sql" queries call none.

Left out for the run budget (a registry run must stay near 50 s on 4
cores so that the benchmark's runs fit their time limit): q37, the
curation audit (33 eager jobs, 10-20 s per pass, a quarter of a run); the
kg group (q32-q34 run extract_entities and vendor_scorecard, which the
kg_batch workload measures at scale); the incremental group (q52, 89
eager jobs, 10-21 s per pass).
"""

from __future__ import annotations

GROUP = {
    "q11_text_stats": "text",
    "q18_json_props": "sql",
    "q19_running_value": "sql",
    "q21_knn_bruteforce": "similarity",
    "q35_multimodal_features": "multimodal",
    "q48_winnowing_overlap_pairs": "dedup",
    "q49_streaming_stateful_totals": "streaming",
}
NAMES = list(GROUP)
GROUPS = ("sql", "text", "dedup", "similarity", "streaming", "multimodal")
LEAVES = ("q11_text_stats", "q18_json_props", "q19_running_value",
          "q48_winnowing_overlap_pairs", "q49_streaming_stateful_totals")

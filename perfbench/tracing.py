"""Traced-run instrumentation: spans around the program's public layer
functions, job groups per pipeline stage, and the fold of Spark's own event
log into per-stage numbers.

Nothing here edits the program. ``install`` swaps module attributes for
wrappers (the pipeline looks them up at call time) and the wrappers call
the originals unchanged. Spans live in memory and are written once, at the
end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

# pipeline checkpoint stage -> the stage group the metrics are reported under
STAGE_GROUP = {
    "ingest": "ingest",
    "extract": "extract",
    "extract_bucketed": "extract",
    "triples": "triples",
    "link": "link",
    "graph_triples": "graph",
    "graph_nodes": "graph",
    "scorecard": "scorecard",
    "graph_features": "scorecard",
}
GROUPS = ("ingest", "extract", "triples", "link", "graph", "scorecard")


class Spans:
    """(name, start, end, parent) records kept in memory."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    def run(self, name: str, fn, *args, **kwargs):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name and r["end"] is not None]


class Tracer:
    """Installs the wrappers. Every Spark job runs under the job group of
    the pipeline stage that started it ("pipeline" between stages)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans = Spans()
        self.observations: dict[str, list] = defaultdict(list)
        self.cc: list[dict] = []
        self._group("pipeline")

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def install(self) -> None:
        from pyspark.sql import Observation, functions as F

        from amharic_ecommerce_data_extractor_spark.operators import linking
        from amharic_ecommerce_data_extractor_spark.sources import checkpoint

        tracer, spans = self, self.spans
        run_stage, chunked_stage = checkpoint.run_stage, checkpoint.chunked_stage
        lsh, banded = linking.lsh_candidate_pairs, linking.banded_candidate_pairs
        cc, signature = linking.connected_components, linking._signature

        def traced_run_stage(spark, workdir, stage, build, **kw):
            group = STAGE_GROUP.get(stage.split("/")[0], "pipeline")
            tracer._group(group)
            try:
                return spans.run(f"stage:{stage}",
                                 run_stage, spark, workdir, stage, build, **kw)
            finally:
                tracer._group("pipeline")

        def traced_chunked_stage(spark, workdir, stage, *a, **kw):
            return spans.run(f"chunked:{stage}",
                             chunked_stage, spark, workdir, stage, *a, **kw)

        def observed(key, df):
            obs = Observation(f"{key}_{len(tracer.observations[key])}")
            tracer.observations[key].append(obs)
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        def traced_banded(*a, **kw):
            return observed("candidate_pairs", banded(*a, **kw))

        def traced_lsh(*a, **kw):
            return observed("verified_pairs",
                            spans.run("link.lsh", lsh, *a, **kw))

        def traced_signature(edges):
            out = spans.run("link.cc.signature", signature, edges)
            if tracer.cc and tracer.cc[-1]["edges"] is None:
                tracer.cc[-1]["edges"] = out[0]
            return out

        def traced_cc(edges, *a, stats=None, **kw):
            stats = {} if stats is None else stats
            tracer.cc.append({"edges": None, "stats": stats})
            return spans.run("link.cc", cc, edges, *a, stats=stats, **kw)

        checkpoint.run_stage = traced_run_stage
        checkpoint.chunked_stage = traced_chunked_stage
        linking.banded_candidate_pairs = traced_banded
        linking.lsh_candidate_pairs = traced_lsh
        linking._signature = traced_signature
        linking.connected_components = traced_cc

    def observed_counts(self, key: str) -> int:
        """Sum of the observed row counts; -1 when an observation never
        fired (its plan was not executed by an action)."""
        total = 0
        for obs in self.observations.get(key, []):
            if not obs._jo.future().isCompleted():
                return -1
            total += int(obs.get["n"])
        return total

    def link_times(self) -> tuple[float, float]:
        """(lsh_s, cc_s). LSH is eager in two places: the signature
        checkpoint inside lsh_candidate_pairs, and the pair join/verify that
        the CC entry checkpoint materializes before its first signature
        count. Everything from that count to the CC return is the CC gate."""
        lsh_s = sum(r["end"] - r["start"] for r in self.spans.named("link.lsh"))
        cc_s = 0.0
        sigs = self.spans.named("link.cc.signature")
        for c in self.spans.named("link.cc"):
            inner = [s for s in sigs if s["parent"] == c["id"]]
            split = min((s["start"] for s in inner), default=c["end"])
            lsh_s += split - c["start"]
            cc_s += c["end"] - split
        return lsh_s, cc_s

    def stage_seconds(self) -> dict[str, float]:
        out = {g: 0.0 for g in GROUPS}
        prefix = "stage:"
        for r in self.spans.records:
            if r["name"].startswith(prefix) and r["end"] is not None:
                out[STAGE_GROUP[r["name"][len(prefix):]]] += r["end"] - r["start"]
        return out


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

_PY_ACCUMS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Spark event log -> {job group: totals} over every task of the
    group's jobs: jobs, task CPU, shuffle bytes written, bytes spilled to
    disk and the Python-runner SQL metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*", "events_*"))
             if not f.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # rolled files events_<n>_<app>, in order: a job starts before its tasks end
    for path in sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1])):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id", "none")
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = group
                    out[group]["jobs"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    g = out[stage_group.get(e["Stage ID"], "none")]
                    m = e.get("Task Metrics") or {}
                    g["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            g[key] += float(acc.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}

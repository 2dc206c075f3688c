"""One timed Spark application in a fresh process.

Run by run.py as ``python3 perfbench/child.py <spec.json>``; never by hand.
Steps: session setup (from process spawn to warmed Python workers: wall
time and the process tree's CPU time),
then the workload's measured work, then the result as JSON at the spec's
``out`` path.

* kg workloads: one ``run_pipeline`` build on a fresh workdir with the
  program's own defaults. The stage checkpoints stay on disk for the
  correctness checks.
* registry: one closed-loop pass over the query list; each query's rows
  are collected to the driver, timed, and kept for the oracle check.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import tempfile
import time

import procfs


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def session(spec: dict):
    from amharic_ecommerce_data_extractor_spark.session import get_spark

    cores, work = spec["cores"], spec["work"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's files inside the checkout: temp files under the
        # run's tmp dir, and no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData",
    }
    if spec["trace"]:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + spec["eventlog"],
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name=f"perfbench_{spec['workload']}", cores=cores,
                      extra_conf=conf)
    t_session = time.time()
    spark.sparkContext.parallelize(range(cores), cores).map(lambda x: x).count()
    t_ready = time.time()
    return spark, {"session_start_s": t_session - spec["spawn_wall"],
                   "worker_warm_s": t_ready - t_session,
                   "setup_wall_s": t_ready - spec["spawn_wall"],
                   # every process of the tree started after the spawn
                   "setup_cpu_s": procfs.tree_cpu_s(os.getpid())}


def build(spark, spec: dict, res: dict) -> None:
    from amharic_ecommerce_data_extractor_spark.plans import pipeline

    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    wd = os.path.join(spec["work"], "wd")
    cpu0, t0 = procfs.tree_cpu_s(os.getpid()), time.perf_counter()
    # the program's own defaults (n_chunks=8), as its CLI runs it
    summary = pipeline.run_pipeline(spark, wd, input_path=spec["input"])
    res["build_s"] = time.perf_counter() - t0
    res["work_cpu_s"] = procfs.tree_cpu_s(os.getpid()) - cpu0
    res["messages"] = summary["messages"]
    res["stage_s"] = summary["stage_seconds"]
    res["stage_bytes"] = {d: dir_bytes(os.path.join(wd, d)) for d in sorted(os.listdir(wd))}
    if tracer:
        res["trace"] = {
            "stage_s": tracer.stage_seconds(),
            "candidate_pairs": tracer.observed_counts("candidate_pairs"),
            "verified_pairs": tracer.observed_counts("verified_pairs"),
            "lsh_cc_s": tracer.link_times(),
            "cc": [{"edges": c["edges"], "rounds": c["stats"].get("rounds")}
                   for c in tracer.cc],
        }
        res["spans"] = tracer.spans.records


def registry(spark, spec: dict, res: dict) -> None:
    from amharic_ecommerce_data_extractor_spark import queries

    # the queries that stage a transient input or sink (streaming, index)
    # put it under the run's own temp dir instead of the system's tmpfs
    queries._scratch_dir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=spec["tmp"])
    sc, pid = spark.sparkContext, os.getpid()
    lat, rows = {}, {}
    spans = None
    if spec["trace"]:
        from tracing import Spans

        spans = Spans()

    def run_query(name: str):
        df = queries.SPARK_QUERIES[name](spark, spec["input"])
        return df, df.collect()

    cpu0 = procfs.tree_cpu_s(pid)
    for name in spec["queries"]:
        t0 = time.perf_counter()
        try:
            if spans:
                # some queries run jobs while they build their DataFrame
                sc.setJobGroup(f"q:{name}", name)
                df, got = spans.run(f"query:{name}", run_query, name)
            else:
                df, got = run_query(name)
        except Exception as e:  # a failed query: no rows, counted by the check
            print(f"[perfbench] {name} raised {e!r}", file=sys.stderr)
            continue
        lat[name] = time.perf_counter() - t0
        rows[name] = {"columns": df.columns,
                      "types": [f.dataType.simpleString() for f in df.schema.fields],
                      "rows": [tuple(r) for r in got]}
    res["work_cpu_s"] = procfs.tree_cpu_s(pid) - cpu0
    res["queries"] = lat
    if spans:
        res["spans"] = spans.records
    with open(os.path.join(spec["work"], "rows.pkl"), "wb") as f:
        pickle.dump(rows, f)


def main(spec_path: str) -> None:
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    spark, res = session(spec)
    try:
        if spec["workload"] == "registry":
            registry(spark, spec, res)
        else:
            build(spark, spec, res)
    finally:
        spark.stop()
        with open(spec["out"], "w", encoding="utf-8") as f:
            json.dump(res, f)
    if spec["trace"]:
        from tracing import fold_event_log

        res["eventlog"] = fold_event_log(spec["eventlog"])
        with open(spec["out"], "w", encoding="utf-8") as f:
            json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])

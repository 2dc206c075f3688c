#!/usr/bin/env python3
"""Benchmark of the staged KG pipeline and the query registry, run from the
root of a source checkout:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 30 --trace 0

Workloads (inputs generated from --seed):
  kg_batch  run_pipeline over the program's synthetic vendor corpus
            (gen.py); extraction is the largest stage
  registry  one closed-loop pass over seven queries.SPARK_QUERIES entries
            (registry.py) on seeded TPC-H-like tables (tables.py)

Each iteration is one fresh process and Spark application at local[<cores>]
(one driver): session set-up, then the measured work. Iterations repeat
while one more fits in --seconds (at least one runs). Outputs are checked
against the pandas oracle (kg_batch) or the DuckDB twins (registry) after
the timed window.

--trace 0 reports the end-to-end metrics: setup_s (CPU seconds of set-up)
and cpu_ms_per_op.
--trace 1 makes the same run with spans around the program's
layer functions and Spark's event log on, and reports per-layer metrics
instead (see BENCHMARK.json), including the tracing overhead against an
untraced run of the same workload and source tree.

The last stdout line is the result JSON; the line before it is the run
record (load average, steal %, cores, input properties, failed_frac and
every iteration's raw values). Scratch files go under .perfbench_work/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import check
import gen
import procfs
import registry
import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amharic_ecommerce_data_extractor_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HISTORY = os.path.join(WORK_ROOT, "untraced.jsonl")
WORKLOADS = ("kg_batch", "registry")
CHILD_TIMEOUT_S = 150
SAMPLE_S = 0.1  # /proc sampling period of the child's process tree
MAX_ITERATIONS = 5
# operations of one kg_batch iteration: the pipeline's stages
STAGE_OPS = ("ingest", "extract", "triples", "link", "graph", "scorecard")


# ---------------------------------------------------------------------------
# Host stamps and process-tree memory
# ---------------------------------------------------------------------------

def cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


class TreeSampler(threading.Thread):
    """Follows a process and all its descendants (Python driver, JVM,
    Python workers) in /proc: samples their summed resident memory, and
    remembers every process it saw so they can all be waited for."""

    def __init__(self, root_pid: int) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak = 0
        self.samples: list[int] = []
        self.seen: dict[int, int] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            procs = procfs.tree(self.root_pid)
            for pid, st in procs.items():
                self.seen.setdefault(pid, st[1])
            self.samples.append(sum(procfs.pss_bytes(p) for p in procs))
            self.peak = max(self.peak, self.samples[-1])
            self._halt.wait(SAMPLE_S)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def reap(self, timeout: float = 20.0) -> None:
        """Wait until every process seen has ended; kill what outlives the
        timeout."""
        deadline = time.monotonic() + timeout
        while True:
            alive = [p for p, start in self.seen.items()
                     if (st := procfs.stat(p)) is not None and st[1] == start]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + timeout
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# One iteration = one child process
# ---------------------------------------------------------------------------

def run_child(workload: str, input_path: str, it_dir: str, trace: bool) -> dict:
    os.makedirs(os.path.join(it_dir, "tmp"))
    os.makedirs(os.path.join(it_dir, "eventlog"))
    spec = {"workload": workload, "input": input_path, "work": it_dir,
            "tmp": os.path.join(it_dir, "tmp"), "eventlog": os.path.join(it_dir, "eventlog"),
            "cores": cores(), "trace": trace, "out": os.path.join(it_dir, "result.json"),
            "queries": registry.NAMES}
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = spec["tmp"]
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own short JVM
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(it_dir, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(spec["cores"])
    env["PYTHONHASHSEED"] = "0"
    spec_path = os.path.join(it_dir, "spec.json")
    log_path = os.path.join(it_dir, "child.log")
    spec["spawn_wall"] = time.time()
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    t0 = time.perf_counter()
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), spec_path],
                                cwd=it_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        except BaseException:  # this run is being stopped: stop the child too
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            sampler.stop()
            sampler.reap()
    res: dict = {}
    if os.path.exists(spec["out"]):
        with open(spec["out"], encoding="utf-8") as f:
            res = json.load(f)
    res["returncode"] = rc
    res["child_wall_s"] = time.perf_counter() - t0
    res["peak_rss_mb"] = sampler.peak / 2**20
    res["mean_rss_mb"] = statistics.fmean(sampler.samples or [0]) / 2**20
    res["processes"] = len(sampler.seen)
    if rc != 0:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write(f"[perfbench] child exited {rc}; log tail:\n"
                             + "".join(f.readlines()[-30:]))
    return res


def finished(r: dict) -> bool:
    """The child exited cleanly and did all its measured work."""
    return r.get("returncode") == 0 and (
        "build_s" in r or len(r.get("queries", ())) == len(registry.NAMES))


def check_iteration(workload: str, it_dir: str, r: dict, want) -> tuple[int, int]:
    """(attempted, failed) operations of one iteration."""
    if workload == "kg_batch":
        if not finished(r):
            return len(STAGE_OPS), len(STAGE_OPS)
        return len(STAGE_OPS), check.kg_failures(os.path.join(it_dir, "wd"), want)
    rows_path = os.path.join(it_dir, "rows.pkl")
    results = {}
    if r.get("returncode") == 0 and os.path.exists(rows_path):
        with open(rows_path, "rb") as f:
            results = pickle.load(f)
    bad = check.registry_failures(results, registry.NAMES, want)
    r["failed_queries"] = bad
    return len(registry.NAMES), len(bad)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def med(values):
    return statistics.median(values)


def end_to_end(its: list[dict]) -> dict:
    per_op = [r["work_cpu_s"] / (r["messages"] if "messages" in r else len(r["queries"]))
              for r in its]
    return {
        "setup_s": (med([r["setup_cpu_s"] for r in its]), "s"),
        "cpu_ms_per_op": (1e3 * med(per_op), "ms/op"),
    }


def kg_layers(r: dict, inp: dict) -> dict:
    from tracing import GROUPS, STAGE_GROUP

    t, ev = r["trace"], r["eventlog"]
    m: dict[str, tuple[float, str]] = {}
    ckpt = {g: 0 for g in GROUPS}
    for stage, nbytes in r["stage_bytes"].items():
        ckpt[STAGE_GROUP[stage]] += nbytes
    for g in GROUPS:
        e = ev.get(g, {})
        m[f"{g}.s"] = (t["stage_s"][g], "s")
        m[f"{g}.task_cpu_s"] = (e.get("task_cpu_ns", 0) / 1e9, "s")
        m[f"{g}.shuffle_bytes"] = (e.get("shuffle_bytes", 0), "B")
        m[f"{g}.spill_bytes"] = (e.get("spill_bytes", 0), "B")
        m[f"{g}.jobs"] = (e.get("jobs", 0), "count")
        m[f"{g}.ckpt_bytes"] = (ckpt[g], "B")
    ex = ev.get("extract", {})
    python_s = ex.get("python_ms", 0) / 1e3
    m["extract.python_s"] = (python_s, "s")
    m["extract.bytes_to_python"] = (ex.get("bytes_to_python", 0), "B")
    m["extract.bytes_from_python"] = (ex.get("bytes_from_python", 0), "B")
    m["extract.distinct_text_ratio"] = (inp["distinct_texts"] / inp["rows"], "ratio")
    m["extract.us_per_distinct_text"] = (python_s * 1e6 / inp["distinct_texts"], "us")
    cand, ver = t["candidate_pairs"], t["verified_pairs"]
    m["link.surfaces"] = (r["link_rows"], "count")
    m["link.candidate_pairs"] = (cand, "count")
    m["link.verified_pairs"] = (ver, "count")
    m["link.pair_yield"] = (ver / cand if cand > 0 else 0.0, "ratio")
    m["link.lsh_s"] = (t["lsh_cc_s"][0], "s")
    m["link.cc_s"] = (t["lsh_cc_s"][1], "s")
    m["link.cc_edges"] = (sum(c["edges"] or 0 for c in t["cc"]), "count")
    m["link.cc_rounds"] = (sum(c["rounds"] or 0 for c in t["cc"]), "count")
    m["build.msgs_per_s"] = (r["messages"] / r["build_s"], "msg/s")
    m["build.ckpt_bytes_per_msg"] = (sum(r["stage_bytes"].values()) / r["messages"], "B/msg")
    return m


def registry_layers(r: dict) -> dict:
    lat, ev = r["queries"], r["eventlog"]
    m: dict[str, tuple[float, str]] = {}
    for g in registry.GROUPS:
        names = [n for n in registry.NAMES if registry.GROUP[n] == g]
        m[f"registry.{g}.s"] = (sum(lat[n] for n in names), "s")
        m[f"registry.{g}.jobs"] = (sum(ev.get(f"q:{n}", {}).get("jobs", 0) for n in names),
                                   "count")
    for n in registry.LEAVES:
        m[f"query.{n.split('_')[0]}.s"] = (lat[n], "s")
    # seven latencies leave no percentile above the median with ten
    # samples beyond it, so the pass reports its total and median only
    m["registry.total_s"] = (sum(lat.values()), "s")
    m["registry.query_p50_s"] = (med(lat.values()), "s")
    return m


def per_layer(workload: str, r: dict, inp: dict, untraced_cpu_s: float) -> dict:
    """Every per-layer metric; the layers the workload does not run read 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        m = {x["name"]: (0, x["unit"]) for x in json.load(f)["per_layer"]}
    m.update(kg_layers(r, inp) if workload == "kg_batch" else registry_layers(r))
    m["process.peak_rss_mb"] = (r["peak_rss_mb"], "MB")
    m["process.mean_rss_mb"] = (r["mean_rss_mb"], "MB")
    m["session.start_s"] = (r["session_start_s"], "s")
    m["session.worker_warm_s"] = (r["worker_warm_s"], "s")
    # in the end-to-end metric's terms: CPU seconds of the measured work
    over = r["work_cpu_s"] - untraced_cpu_s
    m["trace.overhead_s"] = (over, "s")
    m["trace.overhead_frac"] = (over / untraced_cpu_s, "ratio")
    return m


# ---------------------------------------------------------------------------
# Untraced history: the base of the tracing overhead
# ---------------------------------------------------------------------------

def source_hash() -> str:
    """Hash of the program's and the benchmark's sources: untraced costs
    are only compared with traced ones of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for base, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(base, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def record_untraced(key: dict, value: float) -> None:
    with open(HISTORY, "a", encoding="utf-8") as f:
        f.write(json.dumps({**key, "work_cpu_s": value}) + "\n")


def untraced_history(key: dict) -> list[float]:
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY, encoding="utf-8") as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [h["work_cpu_s"] for h in rows if all(h.get(k) == v for k, v in key.items())]


# ---------------------------------------------------------------------------

def prepare(workload: str, seed: int, run_dir: str) -> tuple[str, object, dict]:
    """(input path, oracle, measured input properties)."""
    if workload == "kg_batch":
        pdf = gen.messages(seed)
        path = os.path.join(run_dir, "input.parquet")
        gen.write_parquet(pdf, path)
        want = check.oracle(pdf)
        return path, want, want["input"]
    path = os.path.join(run_dir, "tables")
    return path, path, {"rows": tables.write(seed, path), "queries": len(registry.NAMES)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run still stops its child (which has its own session)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        sys.stderr.write(f"[perfbench] no {PACKAGE} source next to perfbench/; "
                         "run from the root of a source checkout\n")
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        load0, ticks0 = os.getloadavg()[0], cpu_ticks()
        phase = {"start": time.perf_counter()}
        input_path, want, inp = prepare(args.workload, args.seed, run_dir)
        phase["prepare"] = time.perf_counter()

        # untraced work CPU time of this code on this host: the base of the
        # tracing overhead; measured here when none is on record
        key = {"workload": args.workload, "source": source_hash()}
        base_its = []
        if args.trace:
            past = untraced_history(key)[-5:]
            if not past:
                r = run_child(args.workload, input_path, os.path.join(run_dir, "base"), False)
                if finished(r):
                    past = [r["work_cpu_s"]]
                base_its.append(r)
            phase["base"] = time.perf_counter()

        its, failed, attempted = [], 0, 0
        t_start = time.perf_counter()
        # another iteration only when one more fits in --seconds
        while len(its) < MAX_ITERATIONS and (not its or time.perf_counter() - t_start
                                             + its[-1]["child_wall_s"] <= args.seconds):
            it_dir = os.path.join(run_dir, f"it{len(its)}")
            r = run_child(args.workload, input_path, it_dir, bool(args.trace))
            t_check = time.perf_counter()
            n_ops, bad = check_iteration(args.workload, it_dir, r, want)
            r["check_s"] = time.perf_counter() - t_check
            attempted += n_ops
            failed += bad
            if args.workload == "kg_batch" and finished(r):
                with open(os.path.join(it_dir, "wd", "link", "_STAGE_DONE"),
                          encoding="utf-8") as f:
                    r["link_rows"] = json.load(f)["rows"]
            its.append(r)
            if bad or not finished(r):
                break
        phase["iterations"] = time.perf_counter()
        ok = [r for r in its if finished(r)]
        correct = failed == 0 and len(ok) == len(its)

        metrics = {}
        if ok and not args.trace:
            metrics = end_to_end(ok)
            for r in ok if correct else ():
                record_untraced(key, r["work_cpu_s"])
        elif ok and args.trace and past:
            metrics = per_layer(args.workload, ok[0], inp, med(past))
        if not metrics:
            correct = False

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores(), "load_1m": load0, "load_1m_end": os.getloadavg()[0],
            "steal_pct": steal_pct(ticks0, cpu_ticks()),
            "input": inp, "failed_frac": failed / max(attempted, 1),
            "overhead_base_in_run": bool(base_its),
            "phase_s": {k: v - phase["start"] for k, v in phase.items() if k != "start"},
            "iterations": [{k: v for k, v in r.items() if k != "trace"}
                           for r in base_its + its],
        }
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

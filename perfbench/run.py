"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload merge_incremental --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root. A run sets up once (start the Spark
session, generate the seeded inputs, make ``WARMUP_CALLS`` warm-up calls
and check their output), then makes sequential calls (a closed loop, one
caller) until the calls have taken ``--seconds``, and at least
``MIN_CALLS``. Each call's output is checked outside the timer; a call
fails if it raises or its check finds a problem.

Set-up and calls are timed in CPU seconds of the whole process tree (the
Python driver, the JVM, the Python workers): on a shared host whose load
swings from minute to minute, a call's wall time moved 2-3x between runs
while its CPU time moved far less. Wall times are kept in the per-layer
metrics and the run's info line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced calls, reports the per-layer metrics of the traced
calls plus the tracing overhead, and writes the spans to
``.perfbench/traces/<workload>-seed<seed>.json`` (see ``report.py``).

Everything the run writes stays under ``.perfbench/`` in the working
directory. The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "1g"
# The first call after the session starts pays for class loading and JIT
# compilation, and the second is still markedly slower than the ones after
# it; both are set-up, so the timed calls all run warm.
WARMUP_CALLS = 2
# A warm call takes 6-12 s of wall time on a shared 4-core host and a
# run's set-up 40-65 s, so at the default run length a run times one call;
# the run budget has no room for a third warm-up or a second set-up.
MIN_CALLS = 1
MIN_TRACED_CALLS = 2  # one untraced and one traced call
WORKLOAD_NAMES = ("merge_incremental", "dedup_corpus")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def isolate_scratch() -> str:
    """Point every temp/scratch location (Python, the JVM, Spark's local
    dirs and warehouse) under .perfbench/ so the run writes nowhere else."""
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (Spark's launcher too) would keep perf data in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return tmp


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the JVM and the Python workers it forks, with the
    descendants they have already reaped."""
    children, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        children.setdefault(int(f[1]), []).append(int(d))
        used[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total, todo = used.get(me, 0), [me]
    while todo:
        for c in children.get(todo.pop(), []):
            total += used[c]
            todo.append(c)
    return total / os.sysconf("SC_CLK_TCK")


def settle(spark) -> None:
    """Collect garbage in both the Python driver and the JVM before a
    timed call, so no call pays for its predecessors' garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# per-layer metrics of one traced call
# ---------------------------------------------------------------------------

def layer_metrics(spans: list, root: dict, out: dict, n_cores: int) -> dict:
    from spans import self_time

    def named(name):
        return [s for s in spans if s["name"] == name]

    def wall(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def incl(name, k):
        return sum(s["incl"][k] for s in named(name))

    res = out.get("result", {})
    read = sum(src["read"] for src in res.get("sources", []))
    m = {
        "sources.load_raw_s": wall("sources.load_raw"),
        "sources.input_rows": incl("merge.merge_source", "input_rows"),
        "sources.input_bytes": incl("merge.merge_source", "input_bytes"),
        "sources.scan_cpu_s": incl("merge.merge_source", "scan_cpu_s"),
        "mapping.bind_s": wall("mapping.bind"),
        "mapping.warn_count": sum(sum(w.values()) for w in out.get("warnings", [])),
        "merge.merge_source_s": wall("merge.merge_source"),
        "merge.jobs": incl("merge.merge_source", "jobs"),
        "merge.tasks": incl("merge.merge_source", "tasks"),
        "merge.shuffle_bytes": incl("merge.merge_source", "shuffle_write_bytes"),
        "merge.executor_cpu_s": incl("merge.merge_source", "executor_cpu_s"),
        "merge.changed_per_read": (res.get("created", 0) + res.get("updated", 0)) / read if read else 0.0,
        "task.run_s": wall("task.run"),
        "task.self_s": sum(self_time(s, spans) for s in named("task.run")),
        "task.jobs": sum(s["self"]["jobs"] for s in named("task.run")),
        "history.build_s": wall("history.build"),
        "history.rows": res.get("history_created", 0),
        "target.read_s": wall("target.read"),
        "target.overwrite_s": wall("target.overwrite"),
        "target.bytes_written": incl("target.overwrite", "output_bytes"),
        "target.files_written": sum(s["attrs"].get("files", 0) for s in named("target.overwrite")),
        "target.jobs": incl("target.read", "jobs") + incl("target.overwrite", "jobs"),
        "graph.dedup_clusters_s": wall("graph.dedup_clusters"),
        "graph.jobs": incl("graph.dedup_clusters", "jobs"),
    }
    for q in ("dedup_clusters", "pipeline_pretraining_corpus"):
        m[f"queries.{q}_s"] = wall("queries." + q)
        m[f"queries.{q}_jobs"] = incl("queries." + q, "jobs")
    cand = candidate_pairs(spans)
    verified = out.get("verified_pairs", 0)
    m["dedupe.candidate_pairs"] = cand
    m["dedupe.verified_per_candidate"] = verified / cand if cand else 0.0
    r = root["incl"]
    root_wall = root["end"] - root["start"]
    m["spark.jobs_per_call"] = r["jobs"]
    m["spark.stages_per_call"] = r["stages"]
    m["spark.tasks_per_call"] = r["tasks"]
    m["spark.shuffle_bytes_per_call"] = r["shuffle_write_bytes"]
    m["spark.executor_cpu_s_per_call"] = r["executor_cpu_s"]
    m["spark.core_busy_frac"] = r["executor_run_s"] / (root_wall * n_cores)
    return m


def candidate_pairs(spans: list) -> int:
    """Candidate pairs of ``dedup_clusters``: the rows its candidate
    checkpoint reads back from the candidate repartition shuffle, i.e. the
    shuffle-read records of the final stage of the query's last own job
    before connected components start."""
    total = 0
    for q in (s for s in spans if s["name"] == "queries.dedup_clusters"):
        cc_jobs = [st["job"] for g in spans if g["name"] == "graph.dedup_clusters"
                   and g["parent"] == q["id"] for st in g["stages"]]
        first_cc = min(cc_jobs, default=None)
        own = [st for st in q["stages"] if first_cc is None or st["job"] < first_cc]
        if own:
            last_job = max(st["job"] for st in own)
            final = max((st for st in own if st["job"] == last_job), key=lambda st: st["stage"])
            total += final["shuffle_read_records"]
    return total


def install_layer_spans(tracer, out: dict) -> None:
    """Rebind the layer entry points the engine and the benchmark call."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from simpletasks_data_spark import mapping, queries
    from simpletasks_data_spark.operators import graph
    from simpletasks_data_spark.plans import target, task
    from simpletasks_data_spark.sources import csv, table
    import workloads

    def files_written(rec, args, _):
        rec["attrs"]["files"] = workloads.data_files(args[0].path) if args[0].path else 0

    tracer.patch(task.ImportJob, "run", "task.run")
    tracer.patch(task, "merge_source", "merge.merge_source")
    tracer.patch(task, "build_history", "history.build")
    tracer.patch(csv.CsvSource, "load_raw", "sources.load_raw")
    tracer.patch(table.TableSource, "load_raw", "sources.load_raw")
    tracer.patch(mapping.Mapping, "bind", "mapping.bind")
    tracer.patch(target.TargetTable, "read", "target.read")
    tracer.patch(target.TargetTable, "overwrite", "target.overwrite", after=files_written)
    tracer.patch(graph, "dedup_clusters", "graph.dedup_clusters")

    # Verified pairs ride the job that consumes them as an Observation on
    # the verifier's output: no extra action, and only in traced calls.
    verify = queries._verify_candidates
    observations = out.setdefault("_observations", [])

    def observed_verify(*args, **kwargs):
        obs = Observation()
        observations.append(obs)
        return verify(*args, **kwargs).observe(obs, F.count(F.lit(1)).alias("n"))

    tracer.replace(queries, "_verify_candidates", observed_verify)


def harvest_observations(out: dict) -> None:
    n = 0
    for obs in out.pop("_observations", []):
        if not obs._jo.getOrEmpty().isEmpty():
            n += int(obs.get["n"])
    out["verified_pairs"] = n


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "simpletasks_data_spark")):
        log("simpletasks_data_spark/ not found: run from the repository root")
        return 2
    isolate_scratch()
    sys.path[:0] = [HERE, ROOT]
    from simpletasks_data_spark.session import get_spark
    from spans import Tracer
    import workloads

    W = workloads.WORKLOADS[args.workload]
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    n_cores = cores()
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # A fixed, pre-touched heap keeps the JVM's share of peak_rss_mb
        # independent of when the collector happens to grow the heap.
        # C1 only: in a JVM that lives for one run, C2 compilation took
        # about half of set-up's CPU and a third of a call's, varying with
        # when its queue drained; without it both halve and hold still.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
    }
    no_span = lambda name: contextlib.nullcontext()  # noqa: E731

    # ---- set-up: session, inputs, warm-up calls and their checks ----
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    spark = get_spark(master=f"local[{n_cores}]", extra_conf=conf)
    t1 = time.perf_counter()
    m = W.generate(work, args.seed, args.scale)
    t2 = time.perf_counter()
    problems = []
    for _ in range(WARMUP_CALLS):
        W.reset(m)
        problems += W.check(m, W.call(spark, m, no_span))
    t3, setup_cpu = time.perf_counter(), tree_cpu_s() - cpu0
    log(f"set-up {setup_cpu:.2f} CPU s, {t3 - t0:.2f} s (session {t1 - t0:.2f}, inputs {t2 - t1:.2f}, "
        f"{WARMUP_CALLS} warm-up calls and checks {t3 - t2:.2f})")
    for p in problems:
        log(f"set-up check: {p}")

    # ---- timed phase: a closed loop of sequential calls ----
    tracer = Tracer(spark) if args.trace else None
    plain, traced, per_call_layers, wb_per_row, trace_calls = [], [], [], [], []
    plain_cpu = []
    attempted = failed = 0
    min_calls = MIN_TRACED_CALLS if args.trace else MIN_CALLS
    while sum(plain) + sum(traced) < args.seconds or attempted < min_calls:
        W.reset(m)
        settle(spark)
        use_trace = tracer is not None and attempted % 2 == 1
        out: dict = {}
        ok = True
        if use_trace:
            install_layer_spans(tracer, out)
            first_span = len(tracer.spans)
            root_cm, span = tracer.span("call"), tracer.span
        else:
            root_cm, span = contextlib.nullcontext(), no_span
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            with root_cm:
                out.update(W.call(spark, m, span))
        except Exception:
            ok = False
            log("call raised:\n" + traceback.format_exc())
        dt, dc = time.perf_counter() - t, tree_cpu_s() - c
        if not use_trace:
            plain.append(dt)
            plain_cpu.append(dc)
        else:
            traced.append(dt)
            tracer.unpatch()
            spans = tracer.spans[first_span:]
            tracer.collect(spans)
            harvest_observations(out)
            if ok:
                per_call_layers.append(layer_metrics(spans, spans[-1], out, n_cores))
            trace_calls.append({"wall_s": dt, "spans": spans})
        if ok:
            wb_per_row.append(W.committed_bytes(m) / m["source_rows"])
            if args.inject_wrong and attempted % 2 == 0:
                W.tamper(m)
            tk = time.perf_counter()
            try:
                call_problems = W.check(m, out)
            except Exception:
                call_problems = ["check raised:\n" + traceback.format_exc()]
            log(f"call {dc:.2f} CPU s, {dt:.2f} s, check {time.perf_counter() - tk:.2f} s")
            for p in call_problems:
                log(f"call {attempted}: {p}")
            ok = not call_problems
        attempted += 1
        failed += not ok

    peak_kb = vm_hwm_kb("self") + vm_hwm_kb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    stop_spark(spark)

    info = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale, "cores": n_cores,
        "sizes": m["sizes"], "source_rows": m["source_rows"], "input_bytes": m["input_bytes"],
        "setup_cpu_s": setup_cpu, "setup_wall_s": t3 - t0, "plain_calls_cpu_s": plain_cpu,
        "plain_calls_s": plain, "traced_calls_s": traced,
        "fail_frac": failed / attempted, "setup_problems": problems,
    }
    print(json.dumps(info), flush=True)
    if args.trace:
        layers = {k: statistics.median(c[k] for c in per_call_layers) for k in per_call_layers[0]} \
            if per_call_layers else {}
        layers["session.start_s"] = t1 - t0
        layers["session.warmup_s"] = t3 - t2
        layers["wall.setup_s"] = t3 - t0
        layers["wall.call_s_p50"] = statistics.median(plain)
        layers["trace.call_s_p50"] = statistics.median(traced)
        layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        layers["fail_frac"] = failed / attempted
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in metric_units("per_layer").items()}
        path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"info": info, "per_layer": layers, "calls": trace_calls}, fh)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        e2e = {
            "setup_s": setup_cpu,
            "call_cpu_s_p50": statistics.median(plain_cpu),
            "rows_per_cpu_s": m["source_rows"] * len(plain_cpu) / sum(plain_cpu),
            "write_bytes_per_row": statistics.median(wb_per_row) if wb_per_row else 0.0,
            "peak_rss_mb": peak_kb / 1024,
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()}
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def metric_units(kind: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {x["name"]: x["unit"] for x in json.load(fh)[kind]}


def run_all(args) -> int:
    """Run every workload in turn (one process each) and print a table."""
    rows, code = [], 0
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"{w}: exit code {proc.returncode}")
            code = 1
            continue
        res = json.loads(lines[-1])
        rows.append((w, "fail_frac", res["failed"] / res["attempted"], "ratio"))
        rows += [(w, k, v["value"], v["unit"]) for k, v in res["metrics"].items()]
    for w, k, v, u in rows:
        print(f"{w:18} {k:40} {v:14.6g} {u}")
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description="simpletasks-data-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 = the benchmark's sizes)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt every other committed output before its check")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

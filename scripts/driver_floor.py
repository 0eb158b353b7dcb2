"""Driver floor of one warm benchmark call: the work outside the executors.

    python3 scripts/driver_floor.py                          # every workload, seed 1
    python3 scripts/driver_floor.py --workload merge_incremental --seed 2

Run from the repository root. For each workload of ``perfbench/`` it
starts a session with the benchmark's settings, generates the seeded
inputs (``perfbench/gen.py``), makes the benchmark's warm-up calls, then
measures one more call (``perfbench/workloads.py``) and prints:

- Py4J round trips: on the calling thread, and on the other Python
  threads (Py4J's finalizer thread, which releases Java objects the
  driver dropped);
- CPU seconds of the Python driver;
- CPU seconds of the JVM by thread group: executor task threads, the
  threads that serve Py4J commands (Py4J's Java side names them
  ``Thread-<n>``), the JIT compilers, garbage collection, and the rest
  (Spark's event loops, and threads that exited during the call);
- CPU seconds of the Python workers, the ones alive after the call and
  the ones reaped during it;
- the Spark jobs, tasks and shuffle-write bytes of the call, counted
  through one job group around it (``perfbench/spans.py``), so a cut in
  jobs shows without a traced benchmark run.

All CPU figures are user + system time read from ``/proc``. The workload
inputs go under ``.perfbench/driver_floor/`` and Spark scratch under
``.perfbench/tmp/``, so do not run it beside a benchmark run in the same
checkout. The benchmark's files are only imported. The last stdout line
is one JSON object per workload.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import run as bench  # noqa: E402  (perfbench/run.py: session settings, helpers)

JVM_GROUPS = (
    ("executor", ("Executor task",)),
    ("py4j", ("Thread-",)),
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
)


def _ticks(stat_path: str) -> tuple:
    """(ppid, own ticks, reaped children's ticks) from a ``stat`` file."""
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def _jvm_threads(pid: int) -> dict:
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
            out[tid] = (name, _ticks(f"/proc/{pid}/task/{tid}/stat")[1])
        except OSError:  # exited meanwhile
            continue
    return out


def _worker_ticks(jvm: int) -> int:
    """Ticks of the JVM's descendant processes (the Python workers),
    alive or already reaped by their parents."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _ticks(f"/proc/{d}/stat")
            except OSError:
                continue
    total, todo = procs[jvm][2], [jvm]
    while todo:
        parent = todo.pop()
        for pid, (ppid, own, reaped) in procs.items():
            if ppid == parent:
                total += own + reaped
                todo.append(pid)
    return total


def _snapshot(jvm: int) -> dict:
    return {
        "driver": _ticks("/proc/self/stat")[1],
        "jvm": _ticks(f"/proc/{jvm}/stat")[1],
        "threads": _jvm_threads(jvm),
        "workers": _worker_ticks(jvm),
    }


def _cpu_delta(before: dict, after: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    groups = {g: 0 for g, _ in JVM_GROUPS}
    for tid, (name, ticks) in after["threads"].items():
        used = ticks - before["threads"].get(tid, (name, 0))[1]
        for g, prefixes in JVM_GROUPS:
            if name.startswith(prefixes):
                groups[g] += used
                break
    jvm = after["jvm"] - before["jvm"]
    cpu = {"driver_cpu_s": (after["driver"] - before["driver"]) / hz, "jvm_cpu_s": jvm / hz}
    cpu.update({f"jvm_{g}_cpu_s": t / hz for g, t in groups.items()})
    cpu["jvm_other_cpu_s"] = (jvm - sum(groups.values())) / hz
    cpu["worker_cpu_s"] = (after["workers"] - before["workers"]) / hz
    return cpu


def measure(workload: str, seed: int, scale: float) -> dict:
    import workloads

    bench.isolate_scratch()
    from simpletasks_data_spark.session import count_py4j_round_trips, get_spark
    from spans import Tracer

    W = workloads.WORKLOADS[workload]
    work = os.path.join(bench.STATE, "driver_floor", workload)
    shutil.rmtree(work, ignore_errors=True)
    n_cores = bench.cores()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(master=f"local[{n_cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{bench.DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:TieredStopAtLevel=1",
    })
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    m = W.generate(work, seed, scale)
    no_span = lambda name: contextlib.nullcontext()  # noqa: E731
    for _ in range(bench.WARMUP_CALLS):
        W.reset(m)
        W.call(spark, m, no_span)

    W.reset(m)
    bench.settle(spark)
    me = threading.get_ident()
    tracer = Tracer(spark)
    before, t0 = _snapshot(jvm), time.perf_counter()
    with tracer.span("call") as span, count_py4j_round_trips(spark) as counts:
        out = W.call(spark, m, no_span)
    wall = time.perf_counter() - t0
    after = _snapshot(jvm)
    tracer.collect([span])
    problems = W.check(m, out)
    bench.stop_spark(spark)
    return {
        "workload": workload, "seed": seed, "cores": n_cores, "correct": not problems,
        "wall_s": wall,
        "py4j_calling_thread": counts.get(me, 0),
        "py4j_other_threads": sum(n for t, n in counts.items() if t != me),
        "spark_jobs": span["self"]["jobs"],
        "spark_tasks": span["self"]["tasks"],
        "shuffle_write_bytes": span["self"]["shuffle_write_bytes"],
        **_cpu_delta(before, after),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=("all",) + bench.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "simpletasks_data_spark")):
        print("run from the repository root", file=sys.stderr)
        return 2
    if args.workload != "all":
        print(json.dumps(measure(args.workload, args.seed, args.scale)), flush=True)
        return 0
    rows = []
    for w in bench.WORKLOAD_NAMES:
        # one process per workload, as the benchmark runs them
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--scale", str(args.scale)],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        rows.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    for k in rows[0]:
        cells = (f"{r[k]:.2f}" if isinstance(r[k], float) else str(r[k]) for r in rows)
        print(f"{k:24}" + "".join(f"{c:>20}" for c in cells))
    print(json.dumps(rows), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

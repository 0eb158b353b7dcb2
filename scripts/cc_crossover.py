"""Local (driver union-find) vs distributed (big-star) connected
components on generated graphs — the measurement behind
``operators.graph.LOCAL_CC_MAX_EDGES``.

    python scripts/cc_crossover.py                       # 10k, 100k, 1M edges
    python scripts/cc_crossover.py --edges 10000 100000

Shapes: ``star`` is one giant star (every edge on one hub), ``stars`` is
disjoint 5-node stars (the dedup-graph shape), ``chain`` is one path.
For each shape and size it times ``connected_components`` with the gate
forced open (cap = inf) and forced shut (cap = -1), once warm-up then
once timed, and prints one JSON line per run: wall seconds, CPU seconds
of the whole process tree (driver + JVM, read from ``/proc``), and the
Spark jobs the timed run launched (counted from its own job group). Wall
time on a shared host swings between runs; the job count does not. The
input edges are checkpointed before timing, so only CC is measured.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

from run import tree_cpu_s  # noqa: E402
from simpletasks_data_spark.operators import graph as G  # noqa: E402
from simpletasks_data_spark.session import get_spark  # noqa: E402


def shape(spark, kind: str, n: int):
    ids = spark.range(n)
    if kind == "star":
        df = ids.select(F.lit(0).cast("long").alias("a"), (F.col("id") + 1).alias("b"))
    elif kind == "stars":  # hub 5k, leaves 5k+1 .. 5k+4
        hub = (F.col("id") / 4).cast("long") * 5
        df = ids.select(hub.alias("a"), (hub + F.col("id") % 4 + 1).alias("b"))
    else:
        df = ids.select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    return df.localCheckpoint(eager=True)


def timed(spark, df, cap: float, group: str) -> tuple[float, float, int]:
    G.LOCAL_CC_MAX_EDGES = cap
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    w0, c0 = time.perf_counter(), tree_cpu_s()
    G.connected_components(df, "a", "b").write.format("noop").mode("overwrite").save()
    wall, cpu = time.perf_counter() - w0, tree_cpu_s() - c0
    sc._jsc.clearJobGroup()
    return wall, cpu, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, nargs="+", default=[10_000, 100_000, 1_000_000])
    args = ap.parse_args()
    spark = get_spark(app_name="cc-crossover")
    for n in args.edges:
        for kind in ("star", "stars", "chain"):
            df = shape(spark, kind, n)
            for path, cap in (("local", float("inf")), ("distributed", -1)):
                timed(spark, df, cap, f"cc-{kind}-{n}-{path}-warm")
                wall, cpu, jobs = timed(spark, df, cap, f"cc-{kind}-{n}-{path}")
                print(json.dumps({"shape": kind, "edges": n, "path": path, "wall_s": round(wall, 2),
                                  "cpu_s": round(cpu, 2), "jobs": jobs}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

"""Local (driver union-find) vs distributed connected components on
generated star and chain graphs — the measurement behind
``operators.graph.LOCAL_CC_MAX_EDGES``.

    python scripts/cc_crossover.py                       # 10k, 100k, 1M edges
    python scripts/cc_crossover.py --edges 10000 100000

For each shape and size it times ``connected_components`` with the gate
forced open (cap = inf) and forced shut (cap = -1), once warm-up then
once timed, and prints one JSON line per run: wall seconds and CPU
seconds of the whole process tree (driver + JVM), read from ``/proc``.
The input edges are checkpointed before timing, so only CC is measured.
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
    else:
        df = ids.select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    return df.localCheckpoint(eager=True)


def timed(spark, df, cap: float) -> tuple[float, float]:
    G.LOCAL_CC_MAX_EDGES = cap
    w0, c0 = time.perf_counter(), tree_cpu_s()
    G.connected_components(df, "a", "b").write.format("noop").mode("overwrite").save()
    return time.perf_counter() - w0, tree_cpu_s() - c0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, nargs="+", default=[10_000, 100_000, 1_000_000])
    args = ap.parse_args()
    spark = get_spark(app_name="cc-crossover")
    for n in args.edges:
        for kind in ("star", "chain"):
            df = shape(spark, kind, n)
            for path, cap in (("local", float("inf")), ("distributed", -1)):
                timed(spark, df, cap)
                wall, cpu = timed(spark, df, cap)
                print(json.dumps({"shape": kind, "edges": n, "path": path,
                                  "wall_s": round(wall, 2), "cpu_s": round(cpu, 2)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

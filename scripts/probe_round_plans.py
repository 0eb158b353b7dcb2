"""Emit the per-round physical plan of the iterative graph operators
under both join strategies (round-11 evidence): the returned frame of an
iterative operator is just the final checkpoint scan, so the plan diff
that matters — SortMergeJoin of the edge frame vs gated node-side
broadcast — lives in the ROUND plan. This probe builds one pagerank
round with the gate forced off (SMJ) and on (node-side broadcast
under ``graph.BROADCAST_NODES_MAX``) and writes both explains to plans/r11/.

Usage: python scripts/probe_round_plans.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simpletasks_data_spark.session import get_spark  # noqa: E402
from simpletasks_data_spark import queries as Q  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r11")
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _round_plan(spark, bcast: bool) -> str:
    """One pagerank round exactly as operators/graph.pagerank builds it."""
    pairs = Q._trade_pairs_store(spark, SF).select("c", (F.col("s") + 1000000).alias("s"))
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
    ed = e.join(deg, "u").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nr = nodes.withColumn("_rn", F.lit(15000000).cast("long")).localCheckpoint(eager=True)
    scores = nr.select("id", F.lit(10**8).cast("long").alias("_sn"))
    su = scores.withColumnRenamed("id", "u")
    if bcast:
        su = F.broadcast(su)  # b: gated
    contrib = (
        ed.join(su, "u")
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(F.round(F.col("_sn") / F.col("_d")).cast("long")).alias("_in"))
    )
    if bcast:
        contrib = F.broadcast(contrib)  # b: gated
    new_scores = nr.join(contrib, "id", "left").select(
        "id",
        (
            F.col("_rn")
            + F.round(F.lit(0.85) * F.coalesce(F.col("_in"), F.lit(0)).cast("double")).cast("long")
        ).alias("_sn"),
    )
    return new_scores._sc._jvm.PythonSQLUtils.explainString(
        new_scores._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = get_spark(
        app_name="round-plan-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    os.makedirs(OUT, exist_ok=True)
    for name, bcast in (("pagerank_round_smj", False), ("pagerank_round_broadcast", True)):
        plan = _round_plan(spark, bcast)
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

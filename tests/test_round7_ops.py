"""Round-7 hardening: adversarial-distribution property tests for the
distributed kernels (r6 verdict item 8) and the integer-sufficient-
statistic GD gradient (verdict item 7 — the trajectory must not depend
on partitioning / summation order)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from simpletasks_data_spark import queries as Q  # noqa: E402
from simpletasks_data_spark.operators.ranking import (  # noqa: E402
    global_prefix_sum,
    global_row_number,
    global_running_max,
)

SF = "/root/testdata/sf0.001"


def test_logreg_gd_partition_order_independent(spark):
    """The GD gradient quantizes per-row terms to integer nano-units and
    sums exactly, so weights are identical no matter how the feature
    frame is partitioned — round 1 has resid = ±0.5 exactly and a float
    avg() can land ON a 1e-6 half-boundary where summation order decides
    the rounding (observed live at sf0.01)."""
    feats = Q._logreg_features(spark, SF)
    w1 = Q._logreg_gd(feats.coalesce(1), iterations=5, lr=1.0)
    w7 = Q._logreg_gd(feats.repartition(7), iterations=5, lr=1.0)
    w32 = Q._logreg_gd(feats.repartition(32, "x1"), iterations=5, lr=1.0)
    assert w1 == w7 == w32


def test_logreg_gd_multi_matches_single_chains(spark):
    feats = Q._logreg_features(spark, SF)
    cond = F.col("o_orderkey") % 3 != 0
    multi = Q._logreg_gd_multi(
        feats, [(None, (1, 1)), (cond, (1, 1)), (None, (1, 0))], iterations=3
    )
    assert multi[0] == Q._logreg_gd(feats, iterations=3)
    assert multi[1] == Q._logreg_gd(feats.where(cond), iterations=3)
    assert multi[2] == Q._logreg_gd(feats, iterations=3, mask=(1, 0))


def _tied(spark, n):
    # every order key equal: the range partitioner puts ALL rows in one
    # partition (worst-case skew) — correctness must still hold via the
    # unique tie-break
    return spark.range(n).select(
        F.col("id"), F.lit(1).alias("k"), (F.col("id") % 5 + 1).alias("v")
    )


def test_global_prefix_sum_all_equal_order_keys(spark):
    df = _tied(spark, 300).repartition(8)
    got = global_prefix_sum(df, ["k", "id"], {"v": "cum"}, partitions=8)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_global_prefix_sum_single_mega_group(spark):
    # one partition_by group holding every row: the driver-side base fold
    # is one entry per (partition, group) and must still stitch exactly
    df = _tied(spark, 257).repartition(8).withColumn("g", F.lit("all"))
    got = global_prefix_sum(df, ["id"], {"v": "cum"}, partition_by=["g"], partitions=8)
    w = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_global_kernels_empty_input(spark):
    df = _tied(spark, 10).where(F.col("v") > 99)
    ranked, total = global_row_number(df, ["id"], "pos")
    assert total == 0 and ranked.count() == 0
    assert global_prefix_sum(df, ["id"], {"v": "cum"}).count() == 0
    assert global_running_max(df, ["id"], {"v": "m"}).count() == 0


def test_global_running_max_all_equal_order_keys(spark):
    df = _tied(spark, 200).repartition(8)
    got = global_running_max(df, ["k", "id"], {"v": "pm"}, partitions=8)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("pm", F.max("v").over(w))
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_minhash_star_cap_bounds_mega_cluster(spark, cc_paths):
    """A boilerplate cluster of N near-identical docs must produce O(N)
    candidate pairs under star_cap, not O(N^2) — and the candidate graph
    must still connect the whole cluster (r6 verdict item 5)."""
    from simpletasks_data_spark.operators import dedupe as DD
    from simpletasks_data_spark.operators.graph import connected_components

    n = 60
    rows = [(i, f"the same boilerplate footer text appears here {i % 2}") for i in range(n)]
    df = spark.createDataFrame(rows, "id long, text string")
    sig = DD.minhash_signatures(df, "id", "text", n=5, num_hashes=16)

    uncapped = DD.minhash_pairs_from_signatures(sig, "id", 16, 4).count()
    capped_df = DD.minhash_pairs_from_signatures(sig, "id", 16, 4, star_cap=8)
    capped = capped_df.count()
    assert uncapped >= n * (n // 2 - 1) / 2  # near-identical: ~all-pairs
    assert capped <= 4 * n  # O(N): at most bands stars
    # connectivity preserved: every doc reachable in one component family
    for _ in cc_paths():
        comp = connected_components(capped_df, "id_a", "id_b")
        n_comps = comp.select("component").distinct().count()
        assert n_comps <= 2  # the two boilerplate variants


def test_minhash_star_cap_noop_below_cap(spark):
    """star_cap higher than every bucket: byte-identical pair set to the
    uncapped classic contract."""
    from simpletasks_data_spark.operators import dedupe as DD

    rows = [(i, f"document number {i} with its own distinct words {i*7%13}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string")
    sig = DD.minhash_signatures(df, "id", "text", n=5, num_hashes=16)
    base = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_pairs_from_signatures(sig, "id", 16, 4).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_pairs_from_signatures(
            sig, "id", 16, 4, star_cap=10_000
        ).collect()
    }
    assert base == capped


def test_dbscan_all_points_one_cell(spark):
    """Every point inside a single grid cell: the 9-cell probe join
    degenerates to one dense bucket; core/cluster semantics must match
    the brute-force definition."""
    from simpletasks_data_spark.operators.similarity import dbscan_grid_2d

    pts = [(i, i * 3 % 50, i * 7 % 50) for i in range(40)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"]: (r["cluster_id"], r["role"])
        for r in dbscan_grid_2d(df, "id", "x", "y", eps=60, min_pts=3).collect()
    }
    # eps=60 > max pairwise distance in a 50x50 box: all points are one
    # core cluster labeled by the min id
    assert len(got) == 40
    assert all(v == (0, "core") for v in got.values())

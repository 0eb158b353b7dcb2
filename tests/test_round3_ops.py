"""Unit invariants for the round-3 operator batch: k-means, triangle
counting, containment dedup, snapshot diff. (Oracle parity for the
registered queries is pinned separately by test_oracle_parity.py.)"""

import pytest
from pyspark.sql import functions as F

from simpletasks_data_spark.operators.clustering import kmeans_lloyd, kmeans_report
from simpletasks_data_spark.operators.diff import snapshot_diff
from simpletasks_data_spark.operators.graph import triangle_count
from simpletasks_data_spark.operators.dedupe import containment_pairs


def test_kmeans_partitions_input_and_separates_obvious_clusters(spark):
    # two tight blobs far apart in 4-d; k=2 must split them exactly
    rows = [(i, [0.0 + i * 0.001, 0.0, 0.0, 0.0]) for i in range(10)] + [
        (100 + i, [9.0 + i * 0.001, 9.0, 9.0, 9.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans_lloyd(df, k=2, iterations=3, dims=4)
    agg = {r["cluster_id"]: r["n"] for r in
           assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(agg.values()) == 20  # every point assigned exactly once
    assert sorted(agg.values()) == [10, 10]
    # blob membership is pure: ids < 100 all share one cluster
    pure = assigned.groupBy("cluster_id").agg(
        F.count_distinct(F.col("id") < 100).alias("kinds")
    )
    assert all(r["kinds"] == 1 for r in pure.collect())
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)


def test_assign_strategies_identical(spark):
    # the HOF and unrolled-codegen assign strategies must be
    # bit-identical (same left-assoc order; squares are +0.0) — the
    # size-adaptive switch in kmeans_lloyd relies on it
    from simpletasks_data_spark.operators.clustering import _assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.selectExpr(
        "vec_id AS id", "CAST(embedding AS array<double>) AS vec"
    )
    cents = [
        [((cid * 31 + d) % 17 - 8) / 16.0 for d in range(64)] for cid in range(5)
    ]
    a = {r["id"]: (r["cluster_id"], r["d2_r"])
         for r in _assign(base, cents, unroll=False).collect()}
    b = {r["id"]: (r["cluster_id"], r["d2_r"])
         for r in _assign(base, cents, unroll=True).collect()}
    assert a == b and len(a) == base.count()


def test_kmeans_report_members_sum_to_corpus(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 0.0, 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rep = kmeans_report(df, k=4, iterations=2, dims=4)
    got = rep.agg(F.sum("n_members")).collect()[0][0]
    assert got == 50


def test_triangle_count_k4(spark):
    # complete graph on 4 nodes: C(4,3)=4 triangles, each node in 3
    edges = [(u, v) for u in range(4) for v in range(4) if u < v]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_path_has_none(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    assert triangle_count(df).count() == 0


def test_containment_detects_embedded_doc(spark):
    needle = "the quick brown fox jumps over the lazy dog again and again"
    hay = ("completely unrelated preamble text here. " + needle +
           " and then a very long unrelated tail about other things entirely")
    other = "nothing in common with anything else at all in this corpus row"
    df = spark.createDataFrame(
        [(1, needle), (2, hay), (3, other)], "id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]): r["containment"]
             for r in containment_pairs(df, "id", "text", n=5, threshold=0.8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8  # needle contained in hay
    assert (2, 1) not in pairs  # hay is NOT contained in needle
    assert not any(3 in p for p in pairs)


def test_snapshot_diff_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, s string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, x double",
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_label_propagation_disjoint_triangles(spark):
    from simpletasks_data_spark.operators.graph import label_propagation

    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["id"]: r["community"] for r in label_propagation(df, iterations=3).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_bpe_classic_merges(spark):
    from simpletasks_data_spark.operators.bpe import bpe_train

    w = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, wcount long",
    )
    got = [(r["step"], r["lhs"], r["rhs"], r["freq"]) for r in
           bpe_train(w, merges=3).orderBy("step").collect()]
    # (e,s)=9 across newest+widest; then (es,t)=9; then (l,o)=7
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9), (3, "l", "o", 7)]


def test_bpe_greedy_leftmost_on_overlaps(spark):
    from simpletasks_data_spark.operators.bpe import bpe_train

    # 'aaa' -> pairs (a,a) twice; merging must consume LEFTMOST first:
    # round 2 sees ·aa··a· (pair (aa,a)), never ·a··aa·
    w = spark.createDataFrame([("aaa", 1)], "word string, wcount long")
    got = [(r["step"], r["lhs"], r["rhs"]) for r in
           bpe_train(w, merges=2).orderBy("step").collect()]
    assert got == [(1, "a", "a"), (2, "aa", "a")]


def test_skyline_3d_known_frontier(spark):
    from simpletasks_data_spark.operators.skyline import skyline

    rows = [
        (1, 1.0, 5.0, 5.0),   # frontier (best x)
        (2, 5.0, 1.0, 5.0),   # frontier (best y)
        (3, 5.0, 5.0, 1.0),   # frontier (best z)
        (4, 2.0, 2.0, 2.0),   # frontier (balanced)
        (5, 3.0, 3.0, 3.0),   # dominated by 4
        (6, 2.0, 2.0, 2.0),   # duplicate of 4 — co-survives
        (7, 1.0, 5.0, 6.0),   # dominated by 1
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, z double")
    got = sorted(r["id"] for r in skyline(df.repartition(3), ["x", "y", "z"]).collect())
    assert got == [1, 2, 3, 4, 6]


def test_pca_recovers_dominant_direction(spark):
    from simpletasks_data_spark.operators.clustering import pca_power_top1

    # points spread along axis 1 (variance 4x the noise on axis 3)
    rows = [(i, [float(i - 10), 0.0, float((i % 3) - 1) * 0.1, 0.0]) for i in range(21)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v, eig, share = pca_power_top1(df, iterations=6, dims=4)
    assert abs(abs(v[0]) - 1.0) < 1e-3  # component is ±e1
    assert share > 0.99
    assert eig > 0


def test_kmeans_k_larger_than_corpus(spark):
    from simpletasks_data_spark.operators.clustering import kmeans_report

    rows = [(i, [float(i), 0.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rep = kmeans_report(df, k=8, iterations=2, dims=2)
    # only 3 init centroids exist; every point assigned; sizes sum to 3
    got = rep.agg({"n_members": "sum"}).collect()[0][0]
    assert got == 3


def test_label_propagation_empty_edges(spark):
    from simpletasks_data_spark.operators.graph import label_propagation

    df = spark.createDataFrame([], "u long, v long")
    assert label_propagation(df, iterations=2).count() == 0


def test_containment_no_self_pairs_and_symmetric_dups(spark):
    from simpletasks_data_spark.operators.dedupe import containment_pairs

    text = "exactly the same words repeated here for a while to shingle on"
    df = spark.createDataFrame([(1, text), (2, text)], "id long, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in containment_pairs(df, "id", "text", n=5, threshold=0.8).collect()}
    # identical docs: both directions emit at containment 1.0, no self pairs
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_bpe_empty_vocab(spark):
    from simpletasks_data_spark.operators.bpe import bpe_train

    w = spark.createDataFrame([("a", 3)], "word string, wcount long")
    # single 1-char word: no adjacent pairs -> zero merges, empty result
    assert bpe_train(w, merges=3).count() == 0


def test_png_corrupt_payload_tolerance(spark):
    from simpletasks_data_spark.operators.multimodal import decode_png, encode_png

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    good = encode_png(docs, "doc_id", "text", side=5).collect()[0]["payload"]
    flipped = bytearray(good)
    flipped[30] ^= 0xFF  # corrupt a byte inside IHDR -> CRC mismatch
    media = spark.createDataFrame(
        [(1, bytes(good)), (2, bytes(flipped)), (3, b"not a png"), (4, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ok"] for r in decode_png(media).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_qsum_wide_gate_kmeans_identical(spark, monkeypatch):
    # force the DECIMAL(38,0) wide path (VERDICT r10 item 1) by shrinking
    # the safe-rows gate to 1 and prove the gated run reproduces the
    # paired-BIGINT trajectory bit-for-bit — same exact integer statistic
    from simpletasks_data_spark.operators import clustering

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, cents_narrow = kmeans_lloyd(df, k=3, iterations=3, dims=4)
    monkeypatch.setattr(clustering, "_QSUM_SAFE_ROWS", 1)
    _, cents_wide = kmeans_lloyd(df, k=3, iterations=3, dims=4)
    assert cents_wide == cents_narrow


def test_qsum_wide_gate_pca_identical(spark, monkeypatch):
    from simpletasks_data_spark.operators import clustering
    from simpletasks_data_spark.operators.clustering import pca_power_top1

    rows = [(i, [float(i) * 0.3 - 6.0, float(i % 5), 0.25, -1.5])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    narrow = pca_power_top1(df, iterations=4, dims=4)
    monkeypatch.setattr(clustering, "_QSUM_SAFE_ROWS", 1)
    wide = pca_power_top1(df, iterations=4, dims=4)
    assert wide == narrow


def test_qsum_narrow_wraps_where_wide_survives(spark, monkeypatch):
    # why the gate exists: shrink the split to 2 lo bits so the hi
    # partial sum demonstrably wraps (Spark's non-ANSI long sum is
    # silent mod-2^64) on a handful of rows, while the DECIMAL(38,0)
    # wide path still recombines the exact integer — the same failure
    # mode ~2^32 rows/group would trigger at the real 31-bit split
    from simpletasks_data_spark.operators import clustering
    from simpletasks_data_spark.operators.clustering import _qget, _qsum

    monkeypatch.setattr(clustering, "_LO_BITS", 2)
    monkeypatch.setattr(clustering, "_LO_MASK", (1 << 2) - 1)
    n, q = 16, 1 << 62  # hi = q >> 2 = 2^60; 16 addends -> 2^64 == wrap to 0
    df = spark.createDataFrame([(q,)] * n, "q long")
    row = df.agg(
        *_qsum(F.col("q"), "s"), *_qsum(F.col("q"), "t", wide=True)
    ).first()
    assert _qget(row, "t") == n * q  # wide: exact
    assert _qget(row, "s") != n * q  # narrow: silently wrapped


def test_clustering_rejects_null_and_ragged_vectors(spark):
    # ADVICE r10: posexplode silently DROPS a NULL array, so without the
    # up-front guard the statistics would quietly shrink n; both
    # operators must fail loudly instead
    from simpletasks_data_spark.operators.clustering import pca_power_top1

    rows = [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="NULL or wrong-length"):
        kmeans_lloyd(df, k=2, iterations=1, dims=2)
    with pytest.raises(ValueError, match="NULL or wrong-length"):
        pca_power_top1(df, iterations=1, dims=2)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL or wrong-length"):
        kmeans_lloyd(ragged, k=2, iterations=1, dims=2)

"""Round-4 regression tests: driver-faithful canonicalizer rejection,
random-walk hub-degree capping, and the scalarized outputs of the three
queries that were driver-red in round 3."""

import pytest
from pyspark.sql import functions as F

from oracle_harness import assert_driver_canonicalizable


def test_canonicalizer_rejects_array_columns(spark):
    """An array-typed output column must FAIL local parity up front —
    the exact class of bug (round-3 verdict: unhashable 'list' in the
    driver's pandas canonicalizer) that the old stringifying harness
    let through."""
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vec array<double>")
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_driver_canonicalizable("demo", df)


def test_canonicalizer_rejects_struct_and_map(spark):
    df = spark.range(1).select(F.struct(F.lit(1).alias("a")).alias("s"))
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_driver_canonicalizable("demo_struct", df)
    df2 = spark.range(1).select(F.create_map(F.lit("k"), F.lit(1)).alias("m"))
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_driver_canonicalizable("demo_map", df2)


def test_canonicalizer_accepts_scalars(spark):
    assert_driver_canonicalizable(
        "ok", spark.createDataFrame([(1, "x", 2.5)], "a long, b string, c double")
    )


def test_random_walk_hub_degree_cap(spark):
    """Star graph: hub 0 with 200 spokes, cap at 64 — the hub's
    adjacency row must carry exactly max_degree neighbors, chosen by
    the deterministic hash rank, and every walk must still complete."""
    from simpletasks_data_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 201)], "u long, v long"
    )
    w = random_walks(edges, length=3, seed="t", max_degree=64)
    rows = {r["walk_id"]: r["path"] for r in w.collect()}
    assert len(rows) == 201  # one walk per node
    assert all(len(p) == 4 for p in rows.values())
    # hub neighbors visited from spokes: every odd step from a spoke
    # returns to the hub; steps FROM the hub land in its capped list
    hub_next = {p[1] for wid, p in rows.items() if wid == 0}
    assert hub_next <= set(range(1, 201))
    # deterministic: re-running yields byte-identical walks
    rows2 = {r["walk_id"]: r["path"] for r in random_walks(
        edges, length=3, seed="t", max_degree=64).collect()}
    assert rows == rows2
    # the cap binds: the set of distinct nodes reachable from the hub
    # across many (seed, step) draws cannot exceed max_degree
    many = random_walks(edges, length=20, seed="u", max_degree=64)
    hub_paths = [r["path"] for r in many.collect() if r["walk_id"] == 0]
    from_hub = set()
    for p in hub_paths:
        for a, b in zip(p, p[1:]):
            if a == 0:
                from_hub.add(b)
    assert len(from_hub) <= 64


def test_random_walk_cap_matches_uncapped_when_slack(spark):
    """cap > degree: identical walks to an effectively-uncapped run."""
    from simpletasks_data_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "u long, v long"
    )
    a = {r["walk_id"]: r["path"] for r in random_walks(
        edges, length=4, seed="s", max_degree=64).collect()}
    b = {r["walk_id"]: r["path"] for r in random_walks(
        edges, length=4, seed="s", max_degree=10**6).collect()}
    assert a == b


def test_skyline_handles_empty_partitions(spark):
    """mapInPandas calls the kernel with ZERO Arrow batches on empty
    input partitions — 3 rows over 8 explicit partitions guarantees
    several; pre-fix this raised pd.concat ValueError."""
    from simpletasks_data_spark.operators.skyline import skyline

    df = spark.createDataFrame(
        [(1, 1.0, 9.0), (2, 2.0, 2.0), (3, 9.0, 1.0)], "id long, a double, b double"
    ).repartition(8)
    got = {r["id"] for r in skyline(df, ["a", "b"]).collect()}
    assert got == {1, 2, 3}
    # fully-empty input frame
    empty = spark.createDataFrame([], "id long, a double, b double").repartition(4)
    assert skyline(empty, ["a", "b"]).count() == 0


def test_pareto_tie_order_keeps_dominated_row_out(spark):
    """Two suppliers tie on cost; the smaller key has the WORSE delay —
    the window must scan the better delay first so the dominated row
    never enters the frontier (round-3 advice)."""
    import pandas as pd

    # replicate the 2-D frontier logic directly on a crafted frame
    from pyspark.sql import Window

    s = spark.createDataFrame(
        [(1, 5.0, 9.0), (2, 5.0, 3.0), (3, 7.0, 2.0)],
        "l_suppkey long, avg_cost double, avg_delay double",
    )
    w = (
        Window.orderBy(F.asc("avg_cost"), F.asc("avg_delay"), F.asc("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = s.withColumn("best", F.min("avg_delay").over(w))
    kept = {
        r["l_suppkey"]
        for r in ranked.where(
            F.col("best").isNull() | (F.col("avg_delay") < F.col("best"))
        ).collect()
    }
    # supplier 1 (cost 5, delay 9) is dominated by supplier 2 (5, 3)
    assert kept == {2, 3}


def test_importjob_progress_hook_and_logger(spark):
    """Reference ergonomics (importtask.py:206, 219): progress() fires at
    each lifecycle stage with the source name, and self.logger is a
    package-namespaced std-logging logger."""
    from simpletasks_data_spark.mapping import Mapping
    from simpletasks_data_spark.plans.target import TargetTable
    from simpletasks_data_spark.plans.task import ImportJob
    from simpletasks_data_spark.sources.generator import GeneratorSource

    df = spark.createDataFrame([(1, "A")], "id long, col1 string")
    target = TargetTable(schema=df.schema, df=df, primary_keys=("id",))

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.id = self.auto()
            self.col1 = self.auto()

        def get_header_line_number(self):
            return -1

    seen = []

    class Job(ImportJob):
        def progress(self, stage, **info):
            seen.append((stage, info))
            super().progress(stage, **info)

    job = Job(
        spark,
        target,
        sources=[GeneratorSource([["1", "B"]], M(), name="gen")],
        dryrun=True,
    )
    job.run()
    stages = [s for s, _ in seen]
    assert stages == ["pre_process", "merge_source", "commit"]
    assert seen[1][1] == {"source": "gen"}
    assert seen[2][1] == {"dryrun": True}
    assert job.logger.name.startswith("simpletasks_data_spark.")


def test_kmeans_query_output_is_scalar(spark):
    from simpletasks_data_spark import queries as C

    df = C.queries()["kmeans_embeddings"](spark, "/root/testdata/sf0.001")
    assert_driver_canonicalizable("kmeans_embeddings", df)
    assert df.columns == ["cluster_id", "n_members", "inertia", "dim", "value"]


def test_pca_query_output_is_scalar(spark):
    from simpletasks_data_spark import queries as C

    df = C.queries()["pca_top_component"](spark, "/root/testdata/sf0.001")
    assert_driver_canonicalizable("pca_top_component", df)
    assert df.columns == ["eigenvalue", "variance_share", "dim", "loading"]
    assert df.count() == 64


def test_walks_query_output_is_scalar(spark):
    from simpletasks_data_spark import queries as C

    df = C.queries()["graph_random_walks"](spark, "/root/testdata/sf0.001")
    assert_driver_canonicalizable("graph_random_walks", df)
    assert dict(df.dtypes)["path"] == "string"


def test_exact_substring_spans_detects_copied_span(spark):
    from simpletasks_data_spark.operators.dedupe import exact_substring_spans

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "alpha " + shared + " beta"),
            (2, "gamma delta " + shared),
            (3, "unrelated text entirely different tokens here " * 3),
            (4, "short doc"),  # < window tokens: excluded
        ],
        "doc_id long, text string",
    )
    out = exact_substring_spans(docs, window=12, min_docs=2).collect()
    spans = {r["span"]: r for r in out}
    assert shared in spans
    hit = spans[shared]
    assert hit["n_docs"] == 2 and hit["first_doc"] == 1
    # every reported span is held by >= 2 docs
    assert all(r["n_docs"] >= 2 for r in out)


def test_cap_per_group_bounds_and_determinism(spark):
    from pyspark.sql import functions as F

    from simpletasks_data_spark.operators.corpus import cap_per_group

    rows = [(g, i, (i * 7) % 13) for g in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "grp string, id long, q long")
    kept = cap_per_group(df, "grp", [F.desc("q"), F.asc("id")], 5)
    got = kept.groupBy("grp").count().collect()
    assert {r["grp"]: r["count"] for r in got} == {"a": 5, "b": 5}
    # deterministic: best-q rows win, id tiebreak
    a_ids = sorted(r["id"] for r in kept.where(F.col("grp") == "a").collect())
    expected = sorted(
        sorted(range(20), key=lambda i: (-((i * 7) % 13), i))[:5]
    )
    assert a_ids == expected
    # the helper column must not leak
    assert "_cap_rk" not in kept.columns


def test_centroid_drift_identity_group(spark):
    from simpletasks_data_spark.operators.similarity import centroid_drift_by_group

    # one group IS the global corpus -> drift_cosine == 1.0
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(6)],
        "vec_id long, embedding array<double>, label long",
    )
    out = centroid_drift_by_group(df, group_col="label", dims=4).collect()
    assert len(out) == 1
    assert out[0]["n_vecs"] == 6
    assert abs(out[0]["drift_cosine"] - 1.0) < 1e-9


def test_centroid_drift_orthogonal_groups(spark):
    from simpletasks_data_spark.operators.similarity import centroid_drift_by_group

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label long",
    )
    got = {r["group"]: r["drift_cosine"]
           for r in centroid_drift_by_group(df, group_col="label", dims=2).collect()}
    # global centroid = (0.5, 0.5); each unit axis is at 45 degrees
    import math
    assert abs(got[0] - round(math.cos(math.pi / 4), 4)) < 1e-3
    assert got[0] == got[1]


def test_k_core_triangle_with_tail(spark):
    from simpletasks_data_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "u long, v long"
    )
    got = {r["node"]: r["peel_round"] for r in k_core(edges, k=2).collect()}
    # tail node 4 (degree 1) peels in round 1; the triangle is the 2-core
    assert got == {1: 0, 2: 0, 3: 0, 4: 1}
    # k=3: nobody has degree 3 after the tail goes -> everything peels
    got3 = {r["node"]: r["peel_round"] for r in k_core(edges, k=3).collect()}
    assert got3[4] == 1 and all(v >= 1 for v in got3.values())
    assert set(got3) == {1, 2, 3, 4}


def test_k_core_chain_peels_inward(spark):
    from simpletasks_data_spark.operators.graph import k_core

    # path 1-2-3-4-5 with k=2: endpoints peel first, then inward
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r["node"]: r["peel_round"] for r in k_core(edges, k=2).collect()}
    assert got[1] == 1 and got[5] == 1
    assert got[2] == 2 and got[4] == 2
    assert got[3] == 3  # the middle survives two rounds then drops


def test_vocab_coverage_sums(spark):
    from simpletasks_data_spark import queries as C

    df = C.queries()["vocab_coverage_by_source"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows and all(0.0 <= r["coverage"] <= 1.0 for r in rows)
    assert all(r["n_covered"] <= r["n_tokens"] for r in rows)


def test_calendar_forward_fill_gaps(spark):
    import datetime as dt

    from simpletasks_data_spark.operators.temporal import calendar_forward_fill

    obs = spark.createDataFrame(
        [
            ("a", dt.date(2020, 1, 1), 2, 10.0),
            ("a", dt.date(2020, 1, 4), 1, 20.0),
            ("b", dt.date(2020, 1, 2), 3, 7.0),
        ],
        "k string, day date, n long, v double",
    )
    out = calendar_forward_fill(obs, "k", "day", "v", count_col="n")
    rows = {(r["k"], str(r["day"])): (r["n_obs"], r["avg" if False else "v_ff"])
            for r in out.collect()}
    # calendar spans global min..max (Jan 1-4), both keys densified
    assert len(rows) == 8
    assert rows[("a", "2020-01-01")] == (2, 10.0)
    assert rows[("a", "2020-01-02")] == (0, 10.0)   # gap: carried value
    assert rows[("a", "2020-01-03")] == (0, 10.0)
    assert rows[("a", "2020-01-04")] == (1, 20.0)
    # key b: before first observation the fill is NULL
    assert rows[("b", "2020-01-01")] == (0, None)
    assert rows[("b", "2020-01-02")] == (3, 7.0)
    assert rows[("b", "2020-01-04")] == (0, 7.0)


def test_rrf_fuse_known_ranks(spark):
    """Two 3-item rank lists with one shared doc: the shared doc's RRF
    score must be the two-term sum and outrank single-system docs."""
    from simpletasks_data_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id long, doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 14, 3)], "query_id long, doc_id long, rank long"
    )
    out = rrf_fuse({"sa": a, "sb": b}, rrf_k=60, k=10).orderBy("rank").collect()
    assert out[0]["doc_id"] == 11  # in both lists
    assert out[0]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    assert out[0]["sa_rank"] == 2 and out[0]["sb_rank"] == 1
    # doc 10 (rank 1 in sa only): 1/61 — ties doc 13's... no: doc 13 is 1/62
    assert out[1]["doc_id"] == 10 and out[1]["sb_rank"] == 0
    assert {r["doc_id"] for r in out} == {10, 11, 12, 13, 14}


def test_rrf_fuse_tie_breaks_by_id(spark):
    from simpletasks_data_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame([(1, 20, 1), (1, 7, 2)], "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([(1, 7, 1), (1, 20, 2)], "query_id long, doc_id long, rank long")
    out = rrf_fuse({"sa": a, "sb": b}, rrf_k=60, k=10).orderBy("rank").collect()
    # both docs score 1/61 + 1/62: tie resolves to the smaller doc_id
    assert [r["doc_id"] for r in out] == [7, 20]


def test_retrieval_eval_perfect_and_zero(spark):
    """Two orthogonal label groups: retrieval within a group is perfect
    (all relevant candidates rank first), so RR=1, recall=1, nDCG=1."""
    from simpletasks_data_spark.operators.similarity import retrieval_eval

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.95, 0.05, 0.0], 0),
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.9, 0.1], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        r["query_id"]: r
        for r in retrieval_eval(emb, emb, label_col="label", k=10).collect()
    }
    assert len(out) == 5
    for qid, r in out.items():
        assert r["rr_at_k"] == 1.0, r
        assert r["recall_at_k"] == 1.0, r
        assert r["ndcg_at_k"] == 1.0, r
    assert out[1]["n_relevant"] == 2 and out[4]["n_relevant"] == 1


def test_retrieval_eval_worst_case(spark):
    """A query whose only relevant candidate ranks LAST (beyond k):
    RR@k, recall contribution and nDCG must reflect the miss."""
    from simpletasks_data_spark.operators.similarity import retrieval_eval

    # query 1 (label 0): nearest neighbors are all label 1; its single
    # label-0 twin is orthogonal, ranking it last among 4 candidates
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 0),   # relevant but orthogonal -> last
        (3, [0.99, 0.01, 0.0], 1),
        (4, [0.98, 0.02, 0.0], 1),
        (5, [0.97, 0.03, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.where(F.col("vec_id") == 1)
    r = retrieval_eval(emb, q, label_col="label", k=2).collect()[0]
    assert r["n_relevant"] == 1 and r["hits_at_k"] == 0
    assert r["rr_at_k"] == 0.0 and r["recall_at_k"] == 0.0 and r["ndcg_at_k"] == 0.0


def test_jaccard_related_docs_exact_values(spark):
    from simpletasks_data_spark.operators.corpus import jaccard_related_docs

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta delta"),
            (2, "alpha zeta eta theta"),
            (3, "iota kappa"),
        ],
        "doc_id long, text string",
    )
    out = jaccard_related_docs(docs, query_mod=4, k=3).collect()  # query = doc 0
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[1]["jaccard"] == 0.5       # {alpha,beta} / 4
    assert by_doc[2]["jaccard"] == round(1 / 6, 6)
    assert 3 not in by_doc                   # no shared tokens
    assert by_doc[1]["rank"] == 1 and by_doc[2]["rank"] == 2


def test_mmr_prefers_diverse_over_redundant(spark):
    """Query along x; candidates: two near-identical high-rel vectors
    (a, b) and one moderately relevant orthogonal-ish vector (c). Pure
    relevance ranks a, b first; MMR must pick a then c (b is redundant
    with a), demonstrating the diversity term."""
    from simpletasks_data_spark.operators.similarity import mmr_select

    rows = [
        (100, [1.0, 0.0], 0),   # query
        (1, [0.99, 0.01], 0),   # top relevance
        (2, [0.99, 0.011], 0),  # near-duplicate of 1
        (3, [0.6, 0.8], 0),     # diverse, lower relevance
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = (
        mmr_select(emb, emb.where(F.col("vec_id") == 100), k=2, m=3, lam=0.3)
        .orderBy("pick_order")
        .collect()
    )
    assert [r["doc_id"] for r in out] == [1, 3]
    assert out[0]["pick_order"] == 1 and out[1]["pick_order"] == 2


def test_mmr_round1_is_pure_relevance(spark):
    from simpletasks_data_spark.operators.similarity import mmr_select

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.5, 0.5], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = mmr_select(emb, emb.where(F.col("vec_id") == 0), k=1, m=2, lam=0.7).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1


def test_ahash_identical_images_collide_and_corrupt_flagged(spark):
    """Identical text -> identical aHash; corrupt payload -> ok=false,
    NULL hash; near-inverse images differ."""
    from simpletasks_data_spark.operators.multimodal import ahash_ppm, encode_ppm

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "different text")],
        "doc_id long, text string",
    )
    media = encode_ppm(docs, "doc_id", "text", side=4)
    out = {r["media_id"]: r for r in ahash_ppm(media).collect()}
    assert out[1]["ahash"] == out[2]["ahash"] and out[1]["ok"]
    assert out[3]["ahash"] != out[1]["ahash"]
    # corrupt: not a P6 payload
    bad = spark.createDataFrame([(9, bytearray(b"JUNK"))], "media_id long, payload binary")
    r = ahash_ppm(bad).collect()[0]
    assert r["ok"] is False and r["ahash"] is None


def test_ahash_known_bits(spark):
    """Hand-built 2x2 P6 image: two bright pixels, two dark — the hash
    must set exactly the bright pixels' row-major bits."""
    from simpletasks_data_spark.operators.multimodal import ahash_ppm

    # pixels row-major: (200,200,200), (10,10,10), (10,10,10), (200,200,200)
    payload = b"P6\n2 2\n255\n" + bytes([200] * 3 + [10] * 3 + [10] * 3 + [200] * 3)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    r = ahash_ppm(df).collect()[0]
    assert r["ok"] and r["ahash"] == (1 << 0) + (1 << 3)


def test_wav_fingerprint_known_waveform(spark):
    """Hand-built WAV: samples [100, -100, 100, -100] — alternating
    polarity gives sign bits 0101, 3 zero crossings, and ALL energy
    bits set (equal magnitudes)."""
    import struct

    from simpletasks_data_spark.operators.multimodal import fingerprint_wav

    pcm = struct.pack("<4h", 100, -100, 100, -100)
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16,
        1, 1, 8000, 16000, 2, 16, b"data", len(pcm),
    )
    df = spark.createDataFrame(
        [(1, bytearray(header + pcm))], "media_id long, payload binary"
    )
    r = fingerprint_wav(df).collect()[0]
    assert r["ok"]
    assert r["sign_hash"] == 0b0101      # samples 0 and 2 are >= 0
    assert r["zero_crossings"] == 3
    assert r["energy_hash"] == 0b1111    # all |s| equal -> all at mean
    # corrupt payload path
    bad = spark.createDataFrame([(2, bytearray(b"nope"))], "media_id long, payload binary")
    rb = fingerprint_wav(bad).collect()[0]
    assert rb["ok"] is False and rb["sign_hash"] is None


def test_streaming_lsh_dedup_order_independent(spark, tmp_path):
    """The streaming fold must converge to batch LSH regardless of how
    docs split into micro-batches: an exact copy arriving BEFORE its
    original must still resolve (higher id -> lower id)."""
    from simpletasks_data_spark.streaming import streaming_lsh_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (900001, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about spark accumulators and shuffles"),
    ]
    results = []
    for tag, order_col in (("fwd", F.col("id").asc()), ("rev", F.col("id").desc())):
        docs = spark.createDataFrame(rows, "id long, text string")
        src = str(tmp_path / f"src_{tag}")
        # one file per row; sort direction flips which doc arrives first
        docs.repartitionByRange(3, order_col).write.parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q, read_result = streaming_lsh_dedup(stream, str(tmp_path / f"st_{tag}"))
        h = q.start()
        try:
            h.processAllAvailable()
        finally:
            h.stop()
        results.append({r["id"]: (r["matched_id"], r["is_dup"]) for r in read_result().collect()})
    assert results[0] == results[1]
    assert results[0][900001] == (1, True)   # copy matches its original
    assert results[0][1] == (None, False)     # original is the keeper
    assert results[0][2] == (None, False)


def test_streaming_lsh_dedup_retried_epoch_writes_no_duplicates(spark, tmp_path):
    """A micro-batch whose offsets were logged but whose commit was not is
    delivered again, with the same epoch id, when the query restarts. The
    state it leaves (bucket and match rows) must equal one delivery."""
    import os

    from simpletasks_data_spark.streaming import streaming_lsh_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about spark accumulators and shuffles"),
        (900001, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    docs = spark.createDataFrame(rows, "id long, text string")
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    # one file per row, in id order: the last epoch holds the match
    docs.repartitionByRange(3, "id").write.parquet(src)

    def deliver():
        stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q, read_result = streaming_lsh_dedup(stream, state)
        h = q.start()
        try:
            h.processAllAvailable()
        finally:
            h.stop()
        return read_result

    def state_rows():
        return {
            d: sorted(tuple(r) for r in spark.read.parquet(os.path.join(state, d)).collect())
            for d in ("buckets", "matches")
        }

    read_result = deliver()
    once = state_rows()
    assert once["matches"]
    commits = os.path.join(state, "ck", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    deliver()
    assert state_rows() == once
    assert {r["id"]: r["matched_id"] for r in read_result().collect()} == {1: None, 2: None, 900001: 1}


def test_k_anonymity_known_classes(spark):
    """4 rows in classes of sizes {3, 1}: at k=2 only the singleton is
    at risk; at k=5 everything is."""
    from simpletasks_data_spark.operators.profile import k_anonymity_report

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 2)], "g string, v int"
    )
    rep = {r["k"]: r for r in k_anonymity_report(df, ["g"], ks=(2, 5)).collect()}
    assert rep[2]["n_classes"] == 2
    assert rep[2]["n_small_classes"] == 1 and rep[2]["rows_at_risk"] == 1
    assert rep[2]["risk_pct"] == 0.25
    assert rep[5]["rows_at_risk"] == 4 and rep[5]["risk_pct"] == 1.0


def test_walk_cooccurrence_window_and_canonical_pairs(spark):
    """One walk 1-2-3-2: window-2 pairs are (1,2)x2 [pos1-2, pos... ],
    canonicalized u<v, self-pairs excluded."""
    from simpletasks_data_spark.operators.graph import walk_cooccurrence

    walks = spark.createDataFrame(
        [(7, [1, 2, 3, 2])], "walk_id long, path array<long>"
    )
    out = {(r["u"], r["v"]): r["n_cooccur"] for r in
           walk_cooccurrence(walks, window=2, min_count=1).collect()}
    # pairs within distance 2: (1,2)@0-1, (1,3)@0-2, (2,3)@1-2, (2,2)@1-3 skip,
    # (3,2)@2-3 -> (2,3)
    assert out[(1, 2)] == 1
    assert out[(1, 3)] == 1
    assert out[(2, 3)] == 2
    assert (2, 2) not in out


def test_cusum_closed_form_equals_recursion():
    """The prefix trick C_t = S_t - min(0, min_{s<=t} S_s) must equal
    Page's recursion C_t = max(0, C_{t-1} + d_t) on an arbitrary
    series (property over random-ish fixed data)."""
    devs = [1.2, -3.0, 0.5, 0.7, -0.1, 2.5, -4.0, 1.0, 1.0, 1.0]
    c_rec, out_rec = 0.0, []
    for d in devs:
        c_rec = max(0.0, c_rec + d)
        out_rec.append(round(c_rec, 10))
    s, mn, out_cf = 0.0, 0.0, []
    for d in devs:
        s += d
        mn = min(mn, s)
        out_cf.append(round(s - min(mn, 0.0), 10))
    assert out_rec == out_cf


def test_ppr_uniform_seeds_equals_classic(spark):
    from simpletasks_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3)], "src long, dst long"
    )
    classic = {r["id"]: r["score"] for r in pagerank(edges, iterations=5).collect()}
    allnodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    uniform = {r["id"]: r["score"] for r in pagerank(
        edges, iterations=5, reset_ids=allnodes).collect()}
    assert classic == uniform


def test_ppr_mass_concentrates_at_seed(spark):
    """Chain 1->2->3 ... seeding node 1: score(1) > score(2) > score(3),
    and a disconnected node scores 0."""
    from simpletasks_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    s = {r["id"]: r["score"] for r in pagerank(edges, iterations=8, reset_ids=seeds).collect()}
    assert s[1] > s[2] > s[3] > 0
    assert s[8] == 0.0 and s[9] == 0.0


def test_auc_rank_sum_known_values(spark):
    """Hand-computable AUC incl. a TIE: scores pos={0.9, 0.5}, neg={0.5,
    0.1}. Pairwise: 3 wins + 1 half-credit tie out of 4 -> 0.875; the
    mid-rank formula must agree (pos ranks 2.5 + 4, U = 3.5)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as FF

    rows = [(1.0, 0.9), (1.0, 0.5), (0.0, 0.5), (0.0, 0.1)]
    scored = spark.createDataFrame(rows, "y double, p double")
    g = scored.groupBy("p").agg(
        FF.count(FF.lit(1)).cast("long").alias("n"),
        FF.sum(FF.when(FF.col("y") == 1.0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    w_ord = W.orderBy("p").rowsBetween(W.unboundedPreceding, 0)
    r = g.select(
        "pos", "n",
        (FF.sum("n").over(w_ord) - FF.col("n")).alias("before"),
        ((FF.col("n") + 1) / 2.0).alias("half"),
    )
    s = r.agg(
        FF.sum("pos").alias("n1"),
        FF.sum(FF.col("n") - FF.col("pos")).alias("n0"),
        FF.sum(FF.col("pos") * (FF.col("before") + FF.col("half"))).alias("rs"),
    ).collect()[0]
    auc = (s["rs"] - s["n1"] * (s["n1"] + 1) / 2.0) / (s["n1"] * s["n0"])
    assert auc == 0.875


def test_retrieval_eval_invariants_hypothesis(spark):
    """Property pins for retrieval_eval over arbitrary labeled vector
    sets: every metric lands in [0, 1], hits <= min(k, n_relevant),
    n_relevant counts exactly the same-label candidates minus self, and
    a query with zero relevant candidates scores 0 across the board."""
    from hypothesis import given, settings, strategies as st

    from simpletasks_data_spark.operators.similarity import retrieval_eval

    vecs = st.lists(
        st.tuples(
            st.lists(
                st.floats(min_value=-2, max_value=2, allow_nan=False,
                          allow_infinity=False, width=32),
                min_size=3, max_size=3,
            ).filter(lambda v: any(abs(x) > 1e-3 for x in v)),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=2, max_size=8,
    )

    @settings(max_examples=8, deadline=None)
    @given(vecs)
    def run(rows):
        data = [(i, list(v), lab) for i, (v, lab) in enumerate(rows)]
        emb = spark.createDataFrame(
            data, "vec_id long, embedding array<double>, label int"
        )
        k = 3
        out = retrieval_eval(emb, emb, label_col="label", k=k).collect()
        assert len(out) == len(data)
        labels = [lab for _, _, lab in data]
        for r in out:
            expect_rel = sum(
                1 for i, lab in enumerate(labels)
                if lab == labels[r["query_id"]] and i != r["query_id"]
            )
            assert r["n_relevant"] == expect_rel
            assert 0 <= r["hits_at_k"] <= min(k, r["n_relevant"])
            for m in ("rr_at_k", "recall_at_k", "ndcg_at_k"):
                assert 0.0 <= r[m] <= 1.0, (m, r)
            if r["n_relevant"] == 0:
                assert r["rr_at_k"] == r["recall_at_k"] == r["ndcg_at_k"] == 0.0

    run()


def test_rrf_fuse_row_order_invariant(spark):
    """RRF depends only on the rank lists: shuffling input row order
    (and union order of systems) must not change the fused output."""
    from simpletasks_data_spark.operators.corpus import rrf_fuse

    a_rows = [(1, 10, 1), (1, 11, 2), (2, 20, 1)]
    b_rows = [(1, 11, 1), (1, 12, 2), (2, 21, 1)]
    a1 = spark.createDataFrame(a_rows, "query_id long, doc_id long, rank long")
    b1 = spark.createDataFrame(b_rows, "query_id long, doc_id long, rank long")
    a2 = spark.createDataFrame(list(reversed(a_rows)), "query_id long, doc_id long, rank long").repartition(3)
    b2 = spark.createDataFrame(list(reversed(b_rows)), "query_id long, doc_id long, rank long").repartition(2)
    r1 = {(r["query_id"], r["doc_id"]): (r["rank"], r["rrf_score"], r["sa_rank"], r["sb_rank"])
          for r in rrf_fuse({"sa": a1, "sb": b1}, k=10).collect()}
    r2 = {(r["query_id"], r["doc_id"]): (r["rank"], r["rrf_score"], r["sa_rank"], r["sb_rank"])
          for r in rrf_fuse({"sa": a2, "sb": b2}, k=10).collect()}
    assert r1 == r2


def test_budget_select_respects_budget_hypothesis(spark):
    """Property pins for budget_select_by_quality: tokens_kept never
    exceeds the budget (unless everything fits), kept docs dominate
    dropped docs in quality bucket, and the boundary bucket keeps an
    id-ordered prefix."""
    from hypothesis import given, settings, strategies as st

    from simpletasks_data_spark.operators.corpus import budget_select_by_quality
    from pyspark.sql import functions as FF

    docs_strat = st.lists(
        st.tuples(st.integers(1, 50), st.floats(0.0, 1.0, allow_nan=False)),
        min_size=1, max_size=10,
    )

    @settings(max_examples=8, deadline=None)
    @given(docs_strat, st.integers(5, 120))
    def run(rows, budget_val):
        data = [(i, float(round(q, 3)), int(t)) for i, (t, q) in enumerate(rows)]
        d = spark.createDataFrame(data, "doc_id long, q double, n_tok long")
        budget = spark.range(1).select(FF.lit(budget_val).cast("long").alias("_budget"))
        out = budget_select_by_quality(
            d, id_col="doc_id", quality_col="q", tokens_col="n_tok",
            budget=budget, grid=1000,
        ).collect()
        kept_tok = sum(r["n_tok"] for r in out if r["kept"])
        total_tok = sum(r["n_tok"] for r in out)
        if total_tok <= budget_val:
            assert all(r["kept"] for r in out)
        else:
            assert kept_tok <= budget_val
            # every kept doc's bucket >= every dropped doc's bucket
            kept_q = [round(r["q"] * 1000) for r in out if r["kept"]]
            drop_q = [round(r["q"] * 1000) for r in out if not r["kept"]]
            if kept_q and drop_q:
                assert min(kept_q) >= max(
                    q for q in drop_q if q < min(kept_q)
                ) if any(q < min(kept_q) for q in drop_q) else True

    run()


def test_shapley_efficiency_axiom(spark):
    """Shapley efficiency: phi_1 + phi_2 must equal v(empty) - v(full)
    (log-loss reduction fully attributed), on the real sf0.001 data."""
    from simpletasks_data_spark import queries as C

    rows = {r["feature"]: r for r in
            C.queries()["shapley_logreg_features"](spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"x1_price", "x2_orderday"}
    r = next(iter(rows.values()))
    total = round(r["logloss_empty"] - r["logloss_full"], 5)
    assert round(rows["x1_price"]["phi"] + rows["x2_orderday"]["phi"], 5) == total


def test_masked_gd_freezes_features(spark):
    from simpletasks_data_spark.queries import _logreg_features, _logreg_gd

    feats = _logreg_features(spark, "/root/testdata/sf0.001")
    w = _logreg_gd(feats, iterations=2, lr=1.0, mask=(0, 1))
    assert w[1] == 0.0 and w[2] != 0.0 and w[0] != 0.0


def test_ahash_64px_bit63_wraps_signed(spark):
    """ADVICE r4 (medium): a full 8x8 image whose pixel 63 is bright
    sets bit 63; packing must wrap to signed int64 (two's complement,
    matching BIGINT << 63) instead of overflowing the Arrow long column
    and crashing the task outside the per-row try/except."""
    from simpletasks_data_spark.operators.multimodal import ahash_ppm

    # 63 dark pixels then one bright pixel -> only bit 63 is >= mean.
    body = bytes([10] * 3) * 63 + bytes([200] * 3)
    payload = b"P6\n8 8\n255\n" + body
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    r = ahash_ppm(df).collect()[0]
    assert r["ok"] and r["ahash"] == -(1 << 63)  # bit 63 alone, wrapped

    # all-equal image: every bit set -> hash is -1 in two's complement
    flat = b"P6\n8 8\n255\n" + bytes([100] * 3) * 64
    df2 = spark.createDataFrame(
        [(2, bytearray(flat))], "media_id long, payload binary"
    )
    r2 = ahash_ppm(df2).collect()[0]
    assert r2["ok"] and r2["ahash"] == -1


def test_wav_fingerprint_64_samples_bit63_wraps_signed(spark):
    """ADVICE r4 (medium): 64-sample WAV with a loud final sample —
    sign/energy hashes that set bit 63 wrap to signed int64 instead of
    crashing at pandas->Arrow conversion."""
    import struct

    from simpletasks_data_spark.operators.multimodal import fingerprint_wav

    samples = [-1] * 63 + [30000]  # only sample 63 is >= 0 and loud
    pcm = struct.pack("<64h", *samples)
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16,
        1, 1, 8000, 16000, 2, 16, b"data", len(pcm),
    )
    df = spark.createDataFrame(
        [(1, bytearray(header + pcm))], "media_id long, payload binary"
    )
    r = fingerprint_wav(df).collect()[0]
    assert r["ok"]
    assert r["sign_hash"] == -(1 << 63)    # only bit 63 -> wrapped
    assert r["energy_hash"] == -(1 << 63)  # only the loud sample >= mean
    assert r["zero_crossings"] == 1


def test_retrieval_eval_string_labels_survive(spark):
    """ADVICE r4: retrieval_eval must return query_label verbatim —
    a string label column must not silently become NULL (the long cast
    now lives at the query layer, like hard_negatives)."""
    from simpletasks_data_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "en"), (2, [0.9, 0.1], "en"),
         (3, [0.0, 1.0], "fr"), (4, [0.1, 0.9], "fr")],
        "vec_id long, embedding array<double>, label string",
    )
    out = SIM.retrieval_eval(emb, emb.where("vec_id = 1"), label_col="label", k=2)
    rows = out.collect()
    assert rows and rows[0]["query_label"] == "en"
    assert dict(out.dtypes)["query_label"] == "string"

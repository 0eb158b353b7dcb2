"""Multimodal plumbing + Structured Streaming + operator unit checks."""

import os

from pyspark.sql import functions as F

from simpletasks_data_spark import queries as Q
from simpletasks_data_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_payloads,
    decode_metadata,
    extract_features,
)
from simpletasks_data_spark.streaming import (
    stream_events,
    streaming_hourly_counts,
    streaming_sessions,
)

SF = "/root/testdata/sf0.001"


def test_multimodal_payload_schema(spark):
    docs = Q.load(spark, SF, "documents")
    media = attach_fake_payloads(docs, "doc_id", "text")
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"
    row = media.limit(1).collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.modality == "image"


def test_multimodal_decode_real_sniff(spark):
    from simpletasks_data_spark.operators.multimodal import (
        encode_png,
        encode_ppm,
        encode_wav,
    )

    docs = Q.load(spark, SF, "documents").limit(12)
    n = docs.count()
    png = {r.media_id: r for r in decode_metadata(
        encode_png(docs, "doc_id", "text", side=5)).collect()}
    assert len(png) == n
    assert all(r.fmt == "png" and r.ok and (r.width, r.height) == (5, 5)
               for r in png.values())
    ppm = decode_metadata(encode_ppm(docs, "doc_id", "text", side=4)).collect()
    assert all(r.fmt == "ppm" and r.ok and (r.width, r.height) == (4, 4) for r in ppm)
    wav = decode_metadata(encode_wav(docs, "doc_id", "text")).collect()
    assert all(r.fmt == "wav" and r.ok and r.width is None for r in wav)
    # unparseable payloads -> ok=false, never a task failure
    fake = decode_metadata(attach_fake_payloads(docs, "doc_id", "text")).collect()
    assert all(r.fmt is None and not r.ok and r.width is None for r in fake)
    assert all(r.n_bytes > 0 for r in fake)
    # determinism of the whole sniff across runs
    png2 = {r.media_id: r for r in decode_metadata(
        encode_png(docs, "doc_id", "text", side=5)).collect()}
    assert {k: tuple(v) for k, v in png.items()} == {k: tuple(v) for k, v in png2.items()}


def test_multimodal_features_shape(spark):
    docs = Q.load(spark, SF, "documents").limit(20)
    media = attach_fake_payloads(docs, "doc_id", "text")
    feats = extract_features(media)
    rows = feats.collect()
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    # normalized histogram sums to ~1
    assert all(abs(sum(r.features) - 1.0) < 1e-9 for r in rows)


def test_streaming_hourly_equals_batch(spark):
    batch = Q.queries()["events_hourly_rollup"](spark, SF)
    stream = Q.queries()["streaming_hourly_rollup"](spark, SF)
    b = {(str(r.hour), r.event_type): (r.n, r.total_value) for r in batch.collect()}
    s = {(str(r.hour), r.event_type): (r.n, r.total_value) for r in stream.collect()}
    assert b == s and len(b) > 0


def test_streaming_sessions_runs(spark, tmp_path):
    ev = stream_events(spark, SF)
    agg = streaming_sessions(ev)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_test")
        .option("checkpointLocation", os.path.join(tmp_path, "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits watermark-closed sessions; bounded input means
    # the final watermark may hold back the tail — just assert it ran and
    # produced a sane schema.
    out = spark.table("sess_test")
    assert set(out.columns) == {"session_start", "session_end", "user_id", "n_events", "total_value"}


def test_streaming_merge_into(spark, tmp_path):
    """foreachBatch bridge: micro-batches fold into a parquet target
    through the batch merge engine (idempotent streaming upserts)."""
    import os

    from pyspark.sql import types as T

    from simpletasks_data_spark.mapping import Field, Mapping
    from simpletasks_data_spark.plans import ImportJob, TargetTable
    from simpletasks_data_spark.sources import TableSource
    from simpletasks_data_spark.streaming import stream_events, streaming_merge_into

    schema = T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("last_value", T.DoubleType(), True),
    ])
    target = TargetTable(schema=schema, path=os.path.join(tmp_path, "tbl"), primary_keys=("user_id",))

    class M(Mapping):
        def __init__(self):
            super().__init__()
            self.user_id = Field("user_id")
            self.last_value = Field("value")

        def get_key_column_name(self):
            return "user_id"

    def make_job(sess, batch_df):
        src_df = batch_df.select("user_id", "value", "event_id")
        return ImportJob(
            sess, target, sources=[TableSource(src_df, M(), order_col="event_id")]
        )

    ev = stream_events(spark, SF)
    q = streaming_merge_into(ev, make_job, os.path.join(tmp_path, "ck")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(os.path.join(tmp_path, "tbl"))
    n_users = out.count()
    assert n_users == Q.load(spark, SF, "events").select("user_id").distinct().count()
    # last_value per user = value of the max event_id row (order_col semantics)
    import pyspark.sql.functions as F

    expected = (
        Q.load(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    got = {r.user_id: r.last_value for r in out.collect()}
    for r in expected.collect():
        assert abs(got[r.user_id] - r.v) < 1e-9


def test_salted_join_matches_plain_join(spark):
    """salted_join == plain equi-join, and the salt is retry-stable
    (content-hash, not monotonically_increasing_id)."""
    from simpletasks_data_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, v) for k in (1, 1, 1, 1, 2, 3) for v in range(5)], "k int, v int"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k int, name string")
    plain = {tuple(r) for r in fact.join(dim, "k").collect()}
    salted = salted_join(fact, dim, "k", salt=4)
    got = {tuple(r) for r in salted.collect()}
    assert got == plain
    # determinism: the salt assignment is a pure function of row content —
    # repartitioning (which reorders/reassigns rows to tasks) must not
    # change anything, including row multiplicity
    salted2 = salted_join(fact.repartition(7), dim, "k", salt=4)
    assert sorted(tuple(r) for r in salted2.collect()) == sorted(tuple(r) for r in salted.collect())


def test_embedding_dedupe_multiband_recall(spark):
    """A near-dup pair whose sign flips inside band 0 is still caught via
    band 1 (single-band candidate generation would miss it)."""
    from simpletasks_data_spark.operators.similarity import embedding_dedupe_pairs

    base = [1.0] * 16
    flipped = list(base)
    flipped[0] = -1.0  # flips band-0 cell, band-1 dims (8..15) untouched
    rows = [
        (1, base),
        (2, flipped),                  # cosine 14/16 = 0.875 < 0.9? -> adjust
        (3, [x * 1.0 for x in base]),  # exact dup of 1
        (4, [-1.0] * 16),              # far from everything
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = embedding_dedupe_pairs(df, threshold=0.8, bits=8, bands=2)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 3) in pairs          # exact dup
    assert (1, 2) in pairs          # recovered through band 1
    assert not any(4 in p for p in pairs)


def test_knn_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 multi-probe must retrieve a superset-quality result:
    recall@5 vs brute force >= single-probe recall@5."""
    from simpletasks_data_spark import queries as Q2

    qs = Q2.queries()
    sf = "/root/testdata/sf0.001"
    bf = {(r.query_id, r.neighbor_id) for r in qs["knn_bruteforce"](spark, sf).collect()}
    p1 = {(r.query_id, r.neighbor_id) for r in qs["knn_ivf_signbits"](spark, sf).collect()}
    pm = {(r.query_id, r.neighbor_id) for r in qs["knn_ivf_multiprobe"](spark, sf).collect()}
    r1 = len(p1 & bf) / len(bf)
    rm = len(pm & bf) / len(bf)
    # Synthetic embeddings are weakly correlated, so absolute recall is
    # modest at this tiny SF; the property under test is that widening the
    # probe set strictly dominates: no lost pairs, more retrieved.
    assert rm >= r1
    assert len(pm) >= len(p1) > 0


def test_streaming_interval_join_matches_batch(spark):
    """The watermarked stream-stream interval join over the bounded events
    table must emit exactly the batch self-join's pairs."""
    out = Q.queries()["streaming_click_attribution"](spark, SF)
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    ev = Q.load(spark, SF, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in p.join(c, "user_id")
        .where(
            (F.col("cts") >= F.col("pts"))
            & (F.col("cts") <= F.col("pts") + F.expr("INTERVAL 2 HOURS"))
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_ppm_real_decode_and_corrupt_tolerance(spark):
    """The non-stubbed codec path: encode_ppm writes actual P6 bytes,
    decode_ppm parses them with numpy; corrupt payloads come back
    ok=false instead of failing the task."""
    import hashlib

    from pyspark.sql import functions as F

    from simpletasks_data_spark.operators.multimodal import decode_ppm, encode_ppm

    docs = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id long, text string")
    media = encode_ppm(docs, "doc_id", "text", side=4)
    out = {r["media_id"]: r for r in decode_ppm(media).collect()}
    assert out[1]["ok"] and (out[1]["width"], out[1]["height"]) == (4, 4)
    exp_r = round(sum(hashlib.md5(b"hello").digest()) / 16.0, 4)
    assert out[1]["mean_r"] == exp_r
    exp_g = round(sum(hashlib.md5(b"worldg").digest()) / 16.0, 4)
    assert out[2]["mean_g"] == exp_g

    corrupt = spark.createDataFrame(
        [(9, bytearray(b"P6\n4 4\n255\nshort")), (10, bytearray(b"JUNK")), (11, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ok"] for r in decode_ppm(corrupt).collect()}
    assert got == {9: False, 10: False, 11: False}


def test_knn_blas_bit_identical_to_jvm(spark):
    """The Arrow+numpy brute-force twin must reproduce the JVM fold's
    output EXACTLY — same summation order, same BigDecimal-shortest-repr
    rounding — not merely approximately (a 1-ulp drift flips rounded
    knife-edge cosines, e.g. .32685 -> .3268 vs .3269)."""
    from simpletasks_data_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    qs = Q.queries()
    a = sorted(map(tuple, qs["knn_bruteforce"](spark, sf).collect()))
    b = sorted(map(tuple, qs["knn_bruteforce_blas"](spark, sf).collect()))
    assert a == b


def test_knn_blas_raises_past_candidate_cap(spark, monkeypatch):
    """Over ``BLAS_CANDIDATE_ROWS_MAX`` candidate rows the operator
    raises a ValueError that names the cap; it collects at most one row
    past the cap to find out."""
    import pytest

    from simpletasks_data_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "BLAS_CANDIDATE_ROWS_MAX", 2)
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(3)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="BLAS_CANDIDATE_ROWS_MAX=2"):
        SIM.knn_bruteforce_blas(emb, emb, k=1)


def test_entity_linkage_deletes_equals_naive_block(spark):
    """The symmetric-delete neighborhood is EXACT for distance <= 1: the
    candidate-pruned result must equal the full within-block quadratic
    verify, row for row."""
    from simpletasks_data_spark.operators.linkage import blocked_entity_pairs
    from simpletasks_data_spark import queries as Q

    cust = Q.load(spark, "/root/testdata/sf0.001", "customer")
    fast = blocked_entity_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey"], 1, strategy="deletes"
    )
    slow = blocked_entity_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey"], 1, strategy="block"
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_cluster_aware_split_never_straddles(spark):
    """The leakage guard itself: every near-dup cluster's members all
    land on the same split side."""
    from simpletasks_data_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    split = Q.queries()["cluster_aware_holdout_split"](spark, sf)
    clusters = Q.queries()["dedup_clusters"](spark, sf)
    from pyspark.sql import functions as F

    j = clusters.select(F.col("doc_id").alias("id"), "cluster_id").join(split, "id")
    straddle = (
        j.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_sides"))
        .where(F.col("n_sides") > 1)
        .count()
    )
    assert straddle == 0

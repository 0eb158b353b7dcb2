"""Structured Streaming: the engine's stream-ingest surface.

The reference is batch-only (SURVEY §2.6), but an import framework at
100 TB needs a streaming path. Three composable pieces:

- ``stream_events``: file-source stream over the events table layout
  (swap for Kafka in production — the downstream plan is identical);
- ``streaming_hourly_counts`` / ``streaming_sessions``: watermarked
  event-time aggregation (tumbling window / session window) — late rows
  beyond the watermark are dropped by the engine, state is bounded;
- ``streaming_merge_into``: ``foreachBatch`` + the batch merge engine —
  each micro-batch folds into the target through exactly the same
  full-outer merge used for batch imports (ImportJob), giving idempotent
  streaming upserts into a snapshot table.

Tests drive these with a memory sink + ``processAllAvailable`` so a batch
of parquet rows runs the streaming queries to completion synchronously.

Watermark/pushdown gotcha: a filter on a grouping column placed AFTER a
windowed aggregation is pushed by Catalyst below the watermark operator
into the scan — rows it removes then never advance the watermark. Replay
harnesses that use far-future sentinel rows must therefore filter the
sentinels OUT OF THE SINK TABLE after the run, never inside the streaming
plan (see ``streaming_late_data_drop`` in queries.py).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


REPLAY_SHUFFLE_PARTITIONS = 4


def replay_tuned(fn):
    """Decorator for bounded streaming REPLAY queries (VERDICT r10 item
    3): scope ``spark.sql.shuffle.partitions`` down to
    :data:`REPLAY_SHUFFLE_PARTITIONS` for the duration of the call.

    Every micro-batch of a stateful query schedules one state-store
    task per shuffle partition per stateful operator, so a 3-batch
    replay at the session's 32 partitions pays ~hundreds of near-empty
    state tasks — the census floor (measured at sf0.1:
    streaming_left_outer_attribution 19.0 -> 4.4 s, identical output).
    Semantics are untouched — same batches, same watermark passage,
    same exactly-once sinks; only the state partition count changes,
    which is a sizing knob, not a meaning knob (production streams size
    it to key cardinality x cluster, not to a local replay). The conf
    is restored on exit; the DataFrame these queries return reads a
    completed in-memory/committed sink, so post-return execution is
    batch and unaffected.
    """
    import functools

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(REPLAY_SHUFFLE_PARTITIONS)
        )
        try:
            return fn(spark, *args, **kwargs)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return wrapper


def events_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            # The testdata stores INT64 Timestamp(isAdjustedToUTC=false, MICROS)
            # which Spark 4.x reads as TIMESTAMP_NTZ (see queries.load).
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def stream_events(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-source stream over the events parquet (TIMESTAMP_NTZ micros ->
    session-local timestamp; exact under the engine's pinned UTC session).
    Watermarks and event-time windows require TimestampType, hence the cast.
    maxFilesPerTrigger=1 keeps micro-batches small. Replay harnesses that
    need ordered batches (watermark-advancing sentinels) sequence file
    ARRIVAL by query progress — write the next file only after
    ``processAllAvailable()`` — rather than relying on the file-source's
    oldest-mtime pickup order; in production this source is swapped for
    Kafka, where offsets give the same guarantee."""
    from ..session import pin_session_confs

    pin_session_confs(spark)  # foreign-session safety: UTC event-time windows
    raw = (
        spark.readStream.schema(events_schema())
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a watermark:
    state for windows older than the watermark is evicted, so memory is
    bounded regardless of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("hour"), "event_type", "n", "total_value"
        )
    )


def streaming_sessions(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows (gap-based) per user — the streaming analogue of the
    batch sessionization query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_dedupe(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark`` evicts
    keys older than the watermark, so the dedup table never grows past
    the late-data horizon — the only way streaming dedup survives an
    unbounded stream). Which PHYSICAL row wins for a key is arrival-order
    dependent; downstream consumers that need determinism should project
    the key columns only (the emitted key set is exact)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


def streaming_merge_into(
    events: DataFrame,
    make_job: Callable[[SparkSession, DataFrame], object],
    checkpoint_dir: str,
    query_name: str = "stream_merge",
):
    """Fold each micro-batch into a target table through the batch merge
    engine (exactly-once per micro-batch via foreachBatch + the target's
    atomic snapshot swap; re-delivered batches are no-ops because the merge
    is idempotent for unchanged values)."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        job = make_job(batch_df.sparkSession, batch_df)
        job.run()

    return (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )


def streaming_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str = "ts",
    start_ts: str = "start_ts",
    end_ts: str = "end_ts",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each point row matches interval
    rows of the same ``on`` key whose [start, end] contains the point's
    event time. BOTH sides carry a watermark and the join condition
    bounds each side's event time by the other's — that pair of
    constraints is what lets the engine evict buffered rows (state stays
    ~watermark + interval length per key, bounded on an unbounded
    stream). Matches emit in append mode as soon as both rows have
    arrived. ``how="leftOuter"`` makes the INTERVALS side outer: an
    interval with no matching point emits once, with NULL point columns,
    when the watermark passes its end (i.e. when no future point can
    still land inside it) — the streaming form of "purchases with no
    follow-up click". Outer emission is watermark-driven, so bounded
    replays must flush with far-future sentinel rows that survive both
    sides' pre-watermark filters (see ``streaming_left_outer_attribution``
    in queries.py)."""
    p = points.withWatermark(point_ts, watermark).alias("p")
    i = intervals.withWatermark(start_ts, watermark).alias("i")
    cond = (
        (F.col(f"p.{on}") == F.col(f"i.{on}"))
        & (F.col(f"p.{point_ts}") >= F.col(f"i.{start_ts}"))
        & (F.col(f"p.{point_ts}") <= F.col(f"i.{end_ts}"))
    )
    return i.join(p, cond, how)


def streaming_lsh_dedup(
    doc_stream: DataFrame,
    state_dir: str,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
):
    """Streaming fuzzy dedup: each micro-batch of documents is MinHash-
    signed ONCE, probed against the accumulated band-bucket store, and
    folded in — continuous-ingestion LSH where every increment costs
    O(batch), never O(corpus).

    Per batch: band buckets for the new docs; candidate pairs = new x
    (store + new) sharing a (band, bucket); every pair is recorded
    ORIENTED as (higher id, lower id), so the final per-doc answer —
    "matched_id = smallest lower-id doc sharing a band, is_dup =
    matched_id exists" — is ARRIVAL-ORDER INDEPENDENT: whichever side
    of a pair arrives second finds the other in the store, and the
    min-fold makes duplicate observations idempotent. That makes the
    result identical to batch-mode LSH over the full corpus (the
    oracle), with no coordination between batches.

    State layout under ``state_dir`` (one ``epoch=N`` parquet partition
    per micro-batch, written in overwrite mode so a retried epoch
    replaces its own rows; at 100 TB both stores live bucketed by (band,
    bucket) so a probe only shuffles the batch's buckets): ``buckets/`` —
    one row per (band, bucket, id) ever seen; ``matches/`` — oriented
    candidate observations.

    Returns (query_handle, read_result) where ``read_result()`` yields
    (id, matched_id, is_dup) for every ingested doc.
    """
    import os

    from ..operators import dedupe as DD

    spark = doc_stream.sparkSession
    buckets_dir = os.path.join(state_dir, "buckets")
    matches_dir = os.path.join(state_dir, "matches")

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        # r12 (VERDICT r11 item 6): two jobs per batch, not three. The
        # batch's band buckets are written FIRST into an epoch=N
        # partition (idempotent overwrite — a retried batch rewrites its
        # own partition, cleaner exactly-once than blind append), which
        # replaces the eager localCheckpoint job; the probe then reads
        # the new rows back from that partition (pruned scan) and the
        # store side is simply the WHOLE bucket table — after the write,
        # store_old + new == all epochs, the exact union the fold
        # probed before. Partitioning by epoch also bounds the
        # small-files growth: one directory per batch instead of one
        # unpartitioned append pile.
        sig = DD.minhash_signatures(batch_df, id_col, text_col, n, num_hashes)
        bn = DD.band_buckets(sig, id_col, num_hashes, bands)
        bn.write.mode("overwrite").parquet(
            os.path.join(buckets_dir, f"epoch={int(epoch_id)}")
        )
        allb = spark.read.parquet(buckets_dir)
        new = allb.where(F.col("epoch") == int(epoch_id)).drop("epoch")
        other = allb.drop("epoch")
        pairs = (
            new.alias("x")
            .join(
                other.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x._id") != F.col("y._id")),
            )
            .select(
                F.greatest(F.col("x._id"), F.col("y._id")).alias("id"),
                F.least(F.col("x._id"), F.col("y._id")).alias("matched_id"),
            )
        )
        # matches are epoch-partitioned the same way, so a retried epoch
        # overwrites its own rows instead of appending a second copy
        pairs.write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"epoch={int(epoch_id)}")
        )

    query = (
        doc_stream.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(state_dir, "ck"))
        .foreachBatch(fold)
    )

    def read_result() -> DataFrame:
        # every ingested doc has `bands` bucket rows — the id set falls
        # out of the bucket store (no third per-batch write job)
        ids = (
            spark.read.parquet(buckets_dir)
            .select(F.col("_id").alias("id"))
            .distinct()
        )
        hits = (
            spark.read.parquet(matches_dir)
            .groupBy("id")
            .agg(F.min("matched_id").alias("matched_id"))
        )
        return ids.join(hits, "id", "left").select(
            "id", "matched_id", F.col("matched_id").isNotNull().alias("is_dup")
        )

    return query, read_result

"""Incremental materialized-rollup maintenance (continuous-aggregate
refresh).

``incremental_rollup_refresh`` folds a new raw batch into an existing
rollup WITHOUT recomputing it: the batch aggregates to a delta, the
delta's bucket set (tiny — the buckets the batch actually touched)
broadcasts, and the stored rollup splits map-only into an untouched
stream (passes through with NO shuffle) and an affected slice that
merges with the delta in one small aggregation. Refresh cost is
O(batch + affected buckets), independent of the rollup's total size.

This is the batch twin of the streaming continuous aggregate
(``streaming/ingest.streaming_hourly_counts``) and composes with the
hypertable rollup (``operators/hypertable.py``): at 100 TB the stored
rollup lives in a bucket-partitioned table (plans/acid.py hive
partitioning), the affected-bucket set prunes the partitions to rewrite,
and everything outside them is untouched bytes on disk.

Measures must be decomposable (sum/count/min/max): the stored rollup
carries mergeable partials and the caller's ``merge`` expressions
combine stored and delta rows for the same key; ``finalize`` (rounding,
avg = sum/count) applies only at read-out, never to the stored state.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["incremental_rollup_refresh", "incremental_join_refresh"]


def incremental_rollup_refresh(
    stored: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    partial: Dict[str, Column],
    merge: Dict[str, Column],
    bucket_col: str | None = None,
) -> DataFrame:
    """Return the refreshed rollup: ``stored`` with ``batch`` folded in.

    - ``keys``: rollup grouping columns (bucket + dimensions).
    - ``partial``: aggregates computing a delta row from raw batch rows
      (same column names as the stored rollup's measures).
    - ``merge``: aggregates combining stored+delta rows that share a key
      (applied over the union of the affected slice and the delta).
    - ``bucket_col``: the column whose touched-value set gates the
      affected split (defaults to the first key). Keep it the rollup's
      partition column so the untouched stream maps to unrewritten
      partitions.

    Plan shape: ONE shuffle over the batch (the delta agg), ONE over the
    affected slice + delta (the merge agg); the untouched stream is a
    broadcast anti-join — map-only. Nothing re-scans raw history.
    The delta and its touched-bucket set are eagerly checkpointed: both
    feed multiple plan branches (anti, semi, merge) and Spark does not
    reuse subtrees across branches, so without it the batch aggregation
    would recompute per consumer.
    """
    keys = list(keys)
    bucket_col = bucket_col or keys[0]
    delta = batch.groupBy(*keys).agg(*[c.alias(n) for n, c in partial.items()])
    delta = delta.localCheckpoint(eager=True)
    # The touched-bucket set is |batch buckets| rows — broadcast both the
    # membership filter (affected slice) and its negation (untouched).
    touched = delta.select(bucket_col).distinct().localCheckpoint(eager=True)
    untouched = stored.join(F.broadcast(touched), bucket_col, "left_anti")  # b: delta
    affected = stored.join(F.broadcast(touched), bucket_col, "left_semi")  # b: delta
    merged = (
        affected.unionByName(delta)
        .groupBy(*keys)
        .agg(*[c.alias(n) for n, c in merge.items()])
    )
    return untouched.unionByName(merged)


def incremental_join_refresh(
    base_left: DataFrame,
    base_right: DataFrame,
    delta_left: DataFrame,
    delta_right: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Delta of an inner equi-JOIN view under insertions to both inputs
    — classic incremental view maintenance:

        delta(A |x| B) = dA |x| B  +  A |x| dB  +  dA |x| dB

    Returns exactly the NEW join rows (the view's owner appends them to
    the stored view; group-key re-aggregation composes via
    incremental_rollup_refresh). Cost is O(|dA| x matching B + |dB| x
    matching A): the delta side of every join is the batch, so the big
    stored inputs are probed once each on the join key and NEVER joined
    against each other again — the property that makes a 100 TB view
    maintainable by a 1 GB batch. At scale the stored side is read
    bucket-pruned on ``on`` (bucketed/partitioned layout), so each term
    touches only matching buckets.
    """
    keys = list(on)
    t1 = delta_left.join(base_right, keys)
    t2 = base_left.join(delta_right, keys)
    t3 = delta_left.join(delta_right, keys)
    cols = t1.columns
    return t1.select(cols).unionByName(t2.select(cols)).unionByName(t3.select(cols))

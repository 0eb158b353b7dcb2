"""Custom stateful streaming operator: capped sessions.

A capped session is a gap-based session (new run when the inactivity gap
STRICTLY exceeds ``gap``) additionally split into chunks of at most
``cap`` duration, aligned to the run's first event: chunk index =
floor((ts - run_start) / cap). Spark's built-in ``session_window`` can
express the gap but not the cap split, so the streaming form needs
custom state — ``applyInPandasWithState`` with event-time timeouts:

- state per user: current run start, last event, open chunk accumulators
  (all scalar — bounded regardless of stream length);
- events fold in event-time order; a closed chunk emits immediately
  (append mode);
- the open chunk emits when the watermark passes last_ts + gap
  (event-time timeout), exactly when the gap rule guarantees no earlier
  event can still arrive.

``capped_sessions_batch`` is the batch twin — pure window functions
(lag → gap flag → run id cumsum → run_start → chunk floor-div), no
Python in the plan — and defines the semantics the streaming operator
must reproduce; the driver oracle checks the batch twin, pytest checks
stream == batch.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["capped_sessions_batch", "capped_sessions_stateful", "running_totals_stateful"]

OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
# run_start/last_ts/cmin/cmax in epoch micros; chunk accumulators
STATE_SCHEMA = (
    "run_start long, last_ts long, chunk_idx long, cmin long, cmax long, "
    "n long, total double"
)


def _us(interval: str) -> int:
    return int(pd.Timedelta(interval).total_seconds() * 1_000_000)


def capped_sessions_batch(
    events: DataFrame, gap: str = "30 minutes", cap: str = "2 hours"
) -> DataFrame:
    """Batch capped sessions over (user_id, ts, event_id, value)."""
    gap_us, cap_us = _us(gap), _us(cap)
    # The events table reads as TIMESTAMP_NTZ; unix_micros requires a
    # session-local timestamp. The cast is exact under the pinned UTC
    # session and aligns the batch twin's output type with OUT_SCHEMA.
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    lag_us = F.lag(us).over(worder)
    new_run = F.when(
        lag_us.isNull() | ((us - lag_us) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    runs = events.withColumn("_run", F.sum(new_run).over(wcum))
    wrun = Window.partitionBy("user_id", "_run")
    chunked = runs.withColumn(
        "_chunk",
        F.floor((us - F.unix_micros(F.min("ts").over(wrun))) / F.lit(cap_us)),
    )
    return chunked.groupBy("user_id", "_run", "_chunk").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ).drop("_run", "_chunk")


def capped_sessions_stateful(
    events: DataFrame,
    gap: str = "30 minutes",
    cap: str = "2 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming capped sessions via applyInPandasWithState (append mode,
    event-time timeout). Input needs columns user_id, ts, event_id,
    value. Emits each chunk once: closed chunks as soon as a later event
    closes them, the final open chunk when the watermark passes
    last_ts + gap."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us, cap_us = _us(gap), _us(cap)

    def fold(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: "GroupState",
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        out = []

        def emit(st):
            out.append(
                (
                    uid,
                    pd.Timestamp(st[3], unit="us"),
                    pd.Timestamp(st[4], unit="us"),
                    st[5],
                    round(st[6], 4),
                )
            )

        if state.hasTimedOut:
            if state.exists:
                emit(state.get)
                state.remove()
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
            )
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        st = list(state.get) if state.exists else None
        for ts, value in zip(rows["ts"], rows["value"]):
            ts_us = int(ts.value) // 1_000
            v = float(value)
            if st is None:
                st = [ts_us, ts_us, 0, ts_us, ts_us, 1, v]
                continue
            run_start, last_ts = st[0], st[1]
            if ts_us - last_ts > gap_us:
                emit(st)
                st = [ts_us, ts_us, 0, ts_us, ts_us, 1, v]
                continue
            idx = (ts_us - run_start) // cap_us
            if idx != st[2]:
                emit(st)
                st = [run_start, ts_us, idx, ts_us, ts_us, 1, v]
            else:
                st[1] = ts_us
                st[4] = max(st[4], ts_us)
                st[5] += 1
                st[6] += v
        state.update(tuple(st))
        # Event-time timeout fires when the watermark passes last+gap; the
        # timestamp must sit above the current watermark, which can already
        # exceed last+gap for a user idle long before stream end.
        timeout_ms = (st[1] + gap_us) // 1_000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


RUNNING_OUT_SCHEMA = (
    "event_id long, user_id long, ts timestamp, running_n long, running_total double"
)


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Per-user running event count + value total, one output row per
    event, through applyInPandasWithState. State per user is a single
    (n, total) value — bounded regardless of stream length. Events fold
    in (ts, event_id) order within each batch, so the running totals
    equal the batch window-function twin (sum over ROWS UNBOUNDED
    PRECEDING) exactly — the same sequential IEEE addition order.

    Input columns: user_id, ts, event_id, value."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        uid = key[0]
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_n, out_tot = [], []
        for v in batch["value"]:
            n += 1
            total += float(v)
            out_n.append(n)
            out_tot.append(round(total, 4))
        state.update((n, total))
        yield pd.DataFrame(
            {
                "event_id": batch["event_id"].values,
                "user_id": uid,
                "ts": batch["ts"].values,
                "running_n": out_n,
                "running_total": out_tot,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        RUNNING_OUT_SCHEMA,
        "n long, total double",
        "append",
        GroupStateTimeout.NoTimeout,
    )

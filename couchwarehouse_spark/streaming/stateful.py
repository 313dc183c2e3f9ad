"""Stateful streaming operators (D3/D5; SURVEY.md §2.D).

* ``dedup_late_events`` — watermarked streaming dedup: the
  latest-wins/late-data guard (D3). The reference's monitor mode
  re-delivers docs as new seqs and the upsert makes replays harmless
  (reference index.js:143-170 + lib/sqlite.js:82); in a true stream
  the same idempotence is ``withWatermark + dropDuplicates`` — state
  is bounded by the watermark horizon, not the stream length.

* ``running_user_totals`` — arbitrary stateful aggregation via
  ``applyInPandasWithState`` (D5): per-key state the built-in
  aggregates can't express (here: running count/total emitted per
  batch with explicit state handling and timeout-based eviction).

* ``debounce_stream`` — per-key island-head filter on the same API,
  the streaming twin of ``plans.events_windows.event_debounce``.

Scale: state lives in the state store, partitioned by key — shuffle
on the key once, each micro-batch touches only keys present in the
batch; the watermark/timeout bounds total state size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_late_events(
    stream: DataFrame, watermark: str = "1 hour", key: str = "event_id"
) -> DataFrame:
    """Streaming exactly-once-per-``key`` dedup with bounded state (D3).

    Duplicate keys arriving within the watermark horizon (on ``ts``)
    are dropped — INCLUDING reissues that carry a different event time
    (the replayed-feed case: a retry gets a fresh timestamp but the
    same id) — and each key's state is evicted one watermark horizon
    after first sight. ``dropDuplicatesWithinWatermark``, NOT plain
    ``dropDuplicates``: with the plain form, dedup state is only
    evicted when the event-time column is part of the dedup keys, so
    keying on the id alone would grow state with every id ever seen
    — the bounded-state claim this operator exists for would be false.
    This is the streaming analog of the upsert kernel's idempotence.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
RUNNING_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    state.setTimeoutDuration(3_600_000)  # evict idle keys after 1h
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful aggregation (D5): per-user running event count
    and value total, emitted on every micro-batch that touches the
    user — ``applyInPandasWithState`` with processing-time timeout.
    """
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=RUNNING_TOTALS_OUTPUT,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


DEBOUNCE_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)
DEBOUNCE_STATE = T.StructType([T.StructField("last_kept_epoch", T.DoubleType())])


def _make_debounce_updater(gap_seconds: float):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key
        if state.hasTimedOut:
            state.remove()
            return
        (last,) = state.get if state.exists else (None,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        kept = []
        for r in rows.itertuples(index=False):
            epoch = r.ts.timestamp()
            if last is None or epoch - last > gap_seconds:
                kept.append(r)
            # NOT kept events still advance the register: a burst is
            # "events each within gap of the PREVIOUS event", matching
            # the batch gaps-and-islands definition (an island head
            # starts only after a gap from the last event, kept or not).
            last = epoch
        state.update((last,))
        # Evict a key's register once it has been silent for one gap
        # horizon — after that any arrival starts a fresh island anyway,
        # so dropping the state changes nothing. Bounded state.
        state.setTimeoutDuration(int(gap_seconds * 1000))
        if kept:
            yield pd.DataFrame(kept, columns=list(rows.columns))

    return update


def debounce_stream(
    stream: DataFrame, gap_seconds: float = 3600.0
) -> DataFrame:
    """Streaming twin of ``plans.events_windows.event_debounce`` (D5):
    per (user_id, event_type), emit only island-head events — an
    event is suppressed when it lands within ``gap_seconds`` of the
    previous event (kept or suppressed) of the same key. State is one
    float (the last-seen epoch) per live key, evicted by processing-
    time timeout after a silent gap horizon — constant-size state per
    key, the applyInPandasWithState analog of the batch operator's
    lag()-over-window island head.

    Caveat vs the batch twin: correctness of the gap chain assumes
    per-key event-time order, which micro-batches preserve only
    per-batch (each batch is sorted here); a late event that belongs
    INSIDE an already-processed burst would start a new island. The
    batch operator over the warehouse table is the reconciliation
    path, exactly like latest-wins upsert vs the streaming lane.
    """
    return (
        stream.select("user_id", "event_type", "event_id", "ts", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _make_debounce_updater(gap_seconds),
            outputStructType=DEBOUNCE_OUTPUT,
            stateStructType=DEBOUNCE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )

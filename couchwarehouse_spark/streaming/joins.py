"""Stream-stream interval join (D-family depth; SURVEY.md §2.D).

The one stateful-streaming shape the other D operators don't cover:
joining TWO live event streams on a key within an event-time
interval — the "view followed by a click within N minutes" pattern.
Both sides are watermarked, so Spark can bound the join state: a
buffered left row is dropped once the right watermark passes
``left_ts + interval`` (and vice versa); without the time-range
predicate the state would grow with the streams.

Batch analog: ``asof_last_view`` / ``price_band_join`` express the
same semantics over stored tables; this module is their streaming
form (same declarative predicate, state-store execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    interval: str = "10 minutes",
    how: str = "inner",
    right_key: str | None = None,
) -> DataFrame:
    """Join two watermarked streams: rows match when ``left[key] ==
    right[right_key]`` (``right_key`` defaults to ``key``) and the
    right event lands in ``(left_ts, left_ts + interval]`` — strictly
    after the left event, at most ``interval`` later. ``how`` is any
    stream-stream join type (``inner``, ``left_outer``,
    ``full_outer``, ...); outer rows are emitted once the watermark
    proves no match can still arrive. Column names on the two sides
    must differ except for a shared key, whose right copy is dropped
    (rename before calling — the result carries both sides' columns);
    ``left_ts``/``right_ts`` are therefore REQUIRED and must name
    distinct columns, or the joined frame would carry an ambiguous
    event-time column no downstream select could reference.

    Scale: state is partitioned by the join key (one shuffle per
    side); the interval bound plus the watermark give each buffered
    row a finite horizon, so state size tracks the event RATE times
    the interval, never the stream length. The time predicate must
    stay in the join condition — filtering after the join would
    rebuild the unbounded-state plan.
    """
    if left_ts == right_ts:
        raise ValueError(
            f"left_ts and right_ts must be distinct columns, both are {left_ts!r}"
        )
    right_key = right_key or key
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{right_key}"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {interval}")
        )
    )
    joined = l.join(r, cond, how)
    return joined.drop(F.col(f"r.{key}")) if right_key == key else joined

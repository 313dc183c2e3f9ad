"""Streaming-lane tests: foreachBatch warehouse sync (D1/D2),
watermarked dedup (D3), applyInPandasWithState (D5).
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import functions as F

from couchwarehouse_spark.streaming.ingest import monitor_warehouse
from couchwarehouse_spark.streaming.stateful import (
    dedup_late_events,
    running_user_totals,
)
from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, order_doc


def _write_feed_page(feed_dir: str, name: str, envs: list[dict]) -> None:
    os.makedirs(feed_dir, exist_ok=True)
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in envs:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(feed_dir, name))


def test_streaming_spool_matches_batch(spark, tmp_path):
    """AvailableNow drain of a 2-page landing dir == batch spool
    result: upserts, deletes and per-page ordering all preserved."""
    rng = random.Random(21)
    feed_dir = str(tmp_path / "feed")
    page1 = [envelope(i + 1, order_doc(i, rng)) for i in range(8)]
    d0v2 = dict(order_doc(0, rng), status="updated", _rev="2-zz")
    page2 = [
        envelope(9, d0v2),
        envelope(10, None, doc_id="order00003", deleted=True),
    ]
    _write_feed_page(feed_dir, "page1.json", page1)
    _write_feed_page(feed_dir, "page2.json", page2)

    wh = Warehouse(spark, str(tmp_path / "wh"), "streamdata")
    q = monitor_warehouse(
        wh, feed_dir, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    df = wh.table()
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 7  # 8 inserts, 1 delete
    assert rows["order00000"]["status"] == "updated"
    assert "order00003" not in rows
    # The warehouse-level checkpoint followed the stream (R14/D2).
    assert wh.checkpoints.read("streamdata").startswith("10-")

    # Restart the stream with the same checkpoint: nothing reprocessed,
    # then a new page applies incrementally.
    page3 = [envelope(11, None, doc_id="order00001", deleted=True)]
    _write_feed_page(feed_dir, "page3.json", page3)
    q2 = monitor_warehouse(
        wh, feed_dir, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert wh.table().count() == 6


def test_watermark_dedup(spark, tmp_path):
    """D3: the three behaviors that distinguish
    ``dropDuplicatesWithinWatermark`` from plain ``dropDuplicates``:
    a reissue with a DIFFERENT event time inside the horizon is
    dropped, the id's state is EVICTED once the watermark passes its
    horizon, and a reissue after eviction is re-admitted. Plain
    dropDuplicates keyed on event_id alone would pass the first check
    but fail the third (state never evicted → the late reissue
    silently dropped) — which is exactly the unbounded-state bug the
    operator switched away from."""
    src = str(tmp_path / "events")
    os.makedirs(src)

    def write(name, rows, mtime):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))  # FileStreamSource orders by mtime

    # Batch 1: first sightings + an in-horizon reissue of id 1 with a
    # different ts (dropped). Watermark after: 10:02 - 1h.
    write("a.json", [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 5.0},
        {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 1, "value": 7.0},
        {"event_id": 1, "ts": "2024-01-01 10:02:00", "user_id": 1, "value": 5.0},
    ], 1_000_000)
    # Batch 2: advances the watermark to 11:30 — past id 1's 11:00
    # expiry (first-seen 10:00 + 1h horizon).
    write("b.json", [
        {"event_id": 3, "ts": "2024-01-01 12:30:00", "user_id": 2, "value": 1.0},
    ], 1_000_100)
    # Batch 3: spacer — state cleanup runs at batch END, with the
    # watermark as of batch START (the previous batch's commit), so
    # id 1's eviction lands at the end of THIS batch.
    write("c.json", [
        {"event_id": 4, "ts": "2024-01-01 12:31:00", "user_id": 2, "value": 2.0},
    ], 1_000_200)
    # Batch 4: id 1 reissued AFTER eviction → re-admitted.
    write("d.json", [
        {"event_id": 1, "ts": "2024-01-01 13:00:00", "user_id": 1, "value": 5.0},
    ], 1_000_300)

    stream = (
        spark.readStream.schema("event_id LONG, ts STRING, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = dedup_late_events(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
    assert [r["event_id"] for r in got] == [1, 1, 2, 3, 4]


def test_stateful_running_totals(spark, tmp_path):
    """D5: applyInPandasWithState accumulates across micro-batches."""
    src = str(tmp_path / "events")
    os.makedirs(src)

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write("a.json", [
        {"user_id": 1, "value": 10.0},
        {"user_id": 1, "value": 5.0},
        {"user_id": 2, "value": 1.0},
    ])

    stream = spark.readStream.schema("user_id LONG, value DOUBLE").option(
        "maxFilesPerTrigger", "1"
    ).json(src)
    out = running_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT * FROM (SELECT user_id, n_events, total_value, "
            "row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn "
            "FROM totals_out) WHERE rn = 1"
        ).collect()
    }
    assert got[1] == (2, 15.0)
    assert got[2] == (1, 1.0)


def test_stream_stream_interval_join(spark, tmp_path):
    """D-depth: watermarked stream-stream interval join — a click
    matches a view by the same user in (view_ts, view_ts + 10 min];
    later clicks and a click at the view time itself don't."""
    from couchwarehouse_spark.streaming.joins import interval_join_streams

    views_dir = str(tmp_path / "views")
    clicks_dir = str(tmp_path / "clicks")
    os.makedirs(views_dir)
    os.makedirs(clicks_dir)
    with open(os.path.join(views_dir, "v.json"), "w") as f:
        for r in [
            {"user_id": 1, "view_ts": "2024-01-01 10:00:00", "page": "a"},
            {"user_id": 2, "view_ts": "2024-01-01 10:00:00", "page": "b"},
        ]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(clicks_dir, "c.json"), "w") as f:
        for r in [
            # user 1 clicks 5 min after the view → matches
            {"user_id": 1, "click_ts": "2024-01-01 10:05:00", "target": "x"},
            # user 2 clicks 1 h after the view → outside the interval
            {"user_id": 2, "click_ts": "2024-01-01 11:00:00", "target": "y"},
            # the bounds: a click AT the view time does not match (the
            # click must come strictly after), one at exactly view +
            # 10 min does (the upper bound is inclusive)
            {"user_id": 1, "click_ts": "2024-01-01 10:00:00", "target": "at_view"},
            {"user_id": 1, "click_ts": "2024-01-01 10:10:00", "target": "at_bound"},
        ]:
            f.write(json.dumps(r) + "\n")

    views = (
        spark.readStream.schema("user_id LONG, view_ts STRING, page STRING")
        .json(views_dir)
        .withColumn("view_ts", F.to_timestamp("view_ts"))
    )
    clicks = (
        spark.readStream.schema("user_id LONG, click_ts STRING, target STRING")
        .json(clicks_dir)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    joined = interval_join_streams(
        views, clicks, key="user_id", left_ts="view_ts", right_ts="click_ts"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT user_id, page, target FROM ssj_out ORDER BY target").collect()
    assert [(r["user_id"], r["page"], r["target"]) for r in got] == [
        (1, "a", "at_bound"),
        (1, "a", "x"),
    ]


def test_debounce_stream(spark, tmp_path):
    """D5 streaming debounce: within one key, events inside the gap of
    their predecessor are suppressed (including chains where every hop
    is small but the total span is large), a gap starts a new island,
    and other keys are untouched."""
    from couchwarehouse_spark.streaming.stateful import debounce_stream

    src = str(tmp_path / "events")
    os.makedirs(src)

    def write(name, rows, mtime):
        p = os.path.join(src, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    write("a.json", [
        # key (1, click): head, then two chained suppressions (each hop
        # < 60s even though the chain spans > 60s), then a >60s gap.
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:00:40", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 3, "ts": "2024-01-01 10:01:15", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 4, "ts": "2024-01-01 10:05:00", "user_id": 1,
         "event_type": "click", "value": 1.0},
        # different key, same user: independent register
        {"event_id": 5, "ts": "2024-01-01 10:00:10", "user_id": 1,
         "event_type": "view", "value": 1.0},
    ], 1_000_000)
    # Second batch: state carries across batches — 6 is within the gap
    # of 4's island tail (event 4 at 10:05), so it is suppressed.
    write("b.json", [
        {"event_id": 6, "ts": "2024-01-01 10:05:30", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ], 1_000_100)

    stream = (
        spark.readStream.schema(
            "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = debounce_stream(stream, gap_seconds=60.0)
    q = (
        out.writeStream.format("memory")
        .queryName("debounce_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        r["event_id"]
        for r in spark.sql(
            "SELECT event_id FROM debounce_out ORDER BY event_id"
        ).collect()
    ]
    assert got == [1, 4, 5]

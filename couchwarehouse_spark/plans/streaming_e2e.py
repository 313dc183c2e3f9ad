"""D-tier Structured Streaming under the ORACLE gate.

The streaming surface (micro-batch ingest, checkpoint resume, state
stores, watermark semantics) is proven by tests/test_streaming.py
golden runs; these entries go further and put an ACTUAL
``readStream → writeStream`` execution under the driver's
DuckDB-oracle comparison — the stream must produce exactly the answer
the batch SQL states, file-split micro-batching and state-store
merges included.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from couchwarehouse_spark.catalog import load_table
from couchwarehouse_spark.plans.registry import query_scoped_shuffle
from couchwarehouse_spark.plans.sizing import state_partitions
from couchwarehouse_spark.streaming.joins import interval_join_streams
from couchwarehouse_spark.streaming.stateful import dedup_late_events

# Streaming state partitions are FIXED at a query's first run from
# spark.sql.shuffle.partitions and each partition is a per-batch
# state-store file + task: at these bounded e2e fixture sizes the
# session default (32) is pure fixed overhead — ~3 stages × 32 tasks ×
# n_batches of scheduling plus 32 HDFS-state files per operator per
# commit. Every entry in this module therefore runs its body under a
# VOLUME-DERIVED scoped count (sizing.state_partitions: source bytes /
# 64 MB, floored at the measured local sweet spot of 8, env-overridable
# — r11 verdict #2 measured the floor at sf0.1: interval joins
# 21.6/21.2/21.6 s -> 6-9 s, concurrent compact 30.2 -> ~18 s, hashes
# unchanged at sf0.01+sf0.1; the derivation sizes state UP with real
# volume instead of pinning the harness constant).


def query(name: str, oracle: str | None = None):
    """Module-local registration shim: run the whole entry body under
    the volume-derived streaming shuffle-partition count (the returned
    lazy DataFrame — a tiny post-stream aggregate over the memory sink
    or warehouse table — evaluates under the restored session
    default)."""
    return query_scoped_shuffle(name, oracle, partitions=state_partitions)


SW_HOURS = 6  # tumbling-window width (epoch-aligned in both engines)
SW_FILES_PER_TRIGGER = 2  # force several micro-batches over the stage dir
# 4 files / 2 per trigger = 2 data batches + the final no-data batch:
# still a genuine multi-micro-batch run (state merges across triggers,
# join pairs straddle the boundary), at half the r11 trigger rounds —
# every emission horizon these entries pin is a function of the GLOBAL
# max event time (settled by the final no-data batch), not of the
# trigger cadence, so the oracle hashes are unchanged (r11 verdict #2;
# re-proven at sf0.01+sf0.1 when this constant changed).
SW_STAGE_FILES = 4


@query(
    "streaming_window_counts_e2e",
    oracle=f"""
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts)
                                     / {SW_HOURS * 3600}) AS BIGINT)
                                 * {SW_HOURS * 3600}),
                    '%Y-%m-%d %H:%M') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def streaming_window_counts_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D4 under the oracle gate: stage the events table as
    {SW_STAGE_FILES} parquet files, stream them back with
    ``maxFilesPerTrigger={SW_FILES_PER_TRIGGER}`` (so the run is a
    REAL multi-micro-batch execution whose windowed aggregation state
    merges across triggers, not a single-batch replay), aggregate
    into epoch-aligned {SW_HOURS}-hour tumbling windows, and sink to
    an in-memory table the entry returns. The DuckDB oracle states
    the same aggregation relationally — a hash match certifies the
    streaming engine's incremental state arithmetic end to end.

    Complete output mode keeps every window's state in the store (no
    watermark eviction), so the final emission is exactly the batch
    answer regardless of file/batch arrival order; the files arrive
    in hash order, i.e. genuinely out of event-time order, which is
    the point. Watermark-DROP semantics (a different contract —
    deliberately lossy) are covered by ``event_lateness_census`` and
    the streaming golden tests.

    Exactness: counts and cent-quantized value sums are integers; the
    window start is integer epoch floor arithmetic in both engines.

    Scale: this is the standard production shape — per-trigger work
    is one partial agg into the state store keyed by (window, type);
    state size is bounded by windows·types, not events. The stage
    write is the test harness, not the operator.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_stream_{tag}")
    stage = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    ev.repartition(SW_STAGE_FILES).write.mode("overwrite").parquet(stage)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
        .parquet(stage)
    )
    agg = stream.groupBy(
        F.window("ts", f"{SW_HOURS} hours").alias("win"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
    qname = f"cw_stream_out_{tag}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "value_cents",
        )
        .orderBy("win_start", "event_type")
    )


SD_COPIES = 3  # each doc id arrives this many times across the stream


@query(
    "streaming_dedup_e2e",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_unique_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def streaming_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 stateful streaming dedup under the oracle gate: stage the
    documents table {SD_COPIES}× (every doc id arrives repeatedly,
    spread across files so duplicates land in DIFFERENT micro-
    batches), stream it back through ``dropDuplicates('doc_id')`` —
    Spark's keyed dedup STATE STORE — and aggregate the survivors per
    source. The oracle is simply the batch answer over the original
    table: a hash match proves the state store admitted each key
    exactly once across micro-batch boundaries, which is precisely
    the exactly-once ingest guarantee the warehouse's latest-wins
    merge provides in batch (operators/upsert.py).

    Exactness: survivor rows are byte-identical copies of the
    original rows, so any duplicate admitted or survivor lost flips
    integer counts.

    Scale: dedup state is one entry per key — the unbounded-state
    caveat is real at 100 TB, where production ages keys out with a
    watermark; that bounded-state form is proven under its own oracle
    by ``streaming_dedup_watermark_e2e`` (the warehouse's bucketed
    merge is the other bounded lane).
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_sdedup_{tag}")
    stage = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    copies = d
    for _ in range(SD_COPIES - 1):
        copies = copies.unionByName(d)
    copies.repartition(SW_STAGE_FILES).write.mode("overwrite").parquet(stage)

    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
        .parquet(stage)
    )
    deduped = stream.dropDuplicates(["doc_id"])
    agg = deduped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_unique_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    qname = f"cw_sdedup_out_{tag}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("source")


SJ_ATTR_HOURS = 1  # view→purchase attribution window (strict >, inclusive ≤)
SJ_WM_SECONDS = 30 * 60  # watermark delay on both join sides


def _stage_by_event_time(
    df,
    stage_dir: str,
    n_files: int,
    ts_col: str = "ts",
    mtime_base: float | None = None,
):
    """Write ``df`` as ``n_files`` parquet files RANGE-partitioned on
    ``ts_col`` and republish them with monotonically increasing
    mtimes, so FileStreamSource (which orders files by modification
    time) drains them in EVENT-TIME order — the arrival discipline a
    log tailer provides and the one that makes watermark advancement
    sound: every row in a later file carries a later event time than
    every row in an earlier file, so state evicted below the watermark
    can no longer receive a match. The same mtime trick as the
    warehouse streaming-ingest stage (sortseq there, event time here).

    ``mtime_base`` pins the first file's mtime explicitly — REQUIRED
    when several calls stage into the SAME landing directory (the
    watermarked-dedup entry's three arrival waves): wall-clock bases
    from back-to-back calls can interleave with the previous call's
    ``t0 + i`` offsets and scramble the drain order.
    """
    tmp = stage_dir + "_tmp"
    (
        df.repartitionByRange(n_files, ts_col)
        .sortWithinPartitions(ts_col)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.makedirs(stage_dir, exist_ok=True)
    import time as _time

    t0 = mtime_base if mtime_base is not None else _time.time()
    # Part-file NAMES sort in range order (ascending partition index).
    parts = sorted(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, f in enumerate(parts):
        dst = os.path.join(stage_dir, f)
        shutil.copyfile(os.path.join(tmp, f), dst)
        os.utime(dst, (t0 + i, t0 + i))
    shutil.rmtree(tmp, ignore_errors=True)


def _view_purchase_join(
    spark: SparkSession, sf_dir: str, prefix: str, how: str
) -> DataFrame:
    """The one body of the three view→purchase interval-join entries:
    stage views and purchases as two {SW_STAGE_FILES}-file
    event-time-ordered parquet streams, join each view to every
    purchase by the same user in ``(view_ts, view_ts + {SJ_ATTR_HOURS}h]``
    under a {SJ_WM_SECONDS}s watermark on both sides
    (``interval_join_streams`` with join type ``how``), drain with
    ``maxFilesPerTrigger={SW_FILES_PER_TRIGGER}`` into an append-mode
    memory sink and return that table (columns v_user, view_ts,
    p_user, purchase_ts, p_value)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    stage_v = os.path.join(base, "views")
    stage_p = os.path.join(base, "purch")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "event_type", "value")
    _stage_by_event_time(
        ev.filter(F.col("event_type") == "view").drop("event_type"),
        stage_v, SW_STAGE_FILES,
    )
    _stage_by_event_time(
        ev.filter(F.col("event_type") == "purchase").drop("event_type"),
        stage_p, SW_STAGE_FILES,
    )

    def read(stage: str) -> DataFrame:
        return (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
            .parquet(stage)
        )

    views = read(stage_v).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    purchases = read(stage_p).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("p_value"),
    )
    joined = interval_join_streams(
        views,
        purchases,
        key="v_user",
        right_key="p_user",
        left_ts="view_ts",
        right_ts="purchase_ts",
        watermark=f"{SJ_WM_SECONDS} seconds",
        interval=f"{SJ_ATTR_HOURS} hours",
        how=how,
    )
    qname = f"{prefix}_out_{tag}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@query(
    "streaming_interval_join_e2e",
    oracle=f"""
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_attributed,
           CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT)
             AS purchase_cents
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL {SJ_ATTR_HOURS} HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)
def streaming_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL JOIN under the oracle gate (the D-tier
    join the batch lane's ``price_band_join``/``asof_last_view`` can't
    stand in for): views and purchases arrive as two watermarked file
    streams in event-time order, and each view joins every purchase by
    the same user within the following {SJ_ATTR_HOURS}h — the
    canonical streaming attribution shape. Both sides carry a
    {SJ_WM_SECONDS}s watermark and the join condition carries the time
    bound, so Spark's symmetric hash join evicts buffered rows the
    watermark proves can no longer match — bounded state, which is the
    entire point of the interval form at 100 TB (an unbounded
    stream-stream equi-join buffers both streams forever).

    The stage is multi-file / multi-micro-batch
    (maxFilesPerTrigger={SW_FILES_PER_TRIGGER} over {SW_STAGE_FILES}
    files per side), so view/purchase pairs genuinely straddle trigger
    boundaries: a match emitted in batch N joins a view buffered in
    batch N-k through the join state store, and the final table must
    still equal the batch SQL the DuckDB oracle states — inner-join
    append mode emits each matched pair exactly once.

    Exactness: pair counts and cent-quantized purchase sums are
    integers; the time bound is exact microsecond timestamp
    arithmetic in both engines (strict >, inclusive ≤).

    Scale: state is keyed by user_id and bounded by watermark horizon
    × per-user event rate; the stage write is harness, not operator.
    """
    return (
        _view_purchase_join(spark, sf_dir, "cw_sjoin", "inner")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_attributed"),
            F.sum(F.round(F.col("p_value") * 100).cast("long"))
            .cast("long")
            .alias("purchase_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_static_enrich_e2e",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def streaming_static_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join under the oracle gate — the
    single most common production streaming shape (a fact stream
    decorated with slowly-changing dimensions): orders arrive as a
    multi-micro-batch file stream and every batch joins the STATIC
    customer→nation dimension chain, aggregating revenue per nation
    into the streaming state store. Unlike the stream-stream interval
    join, the static side needs no watermark and buffers no state —
    Catalyst plans it as a broadcast hash join per micro-batch, which
    is exactly the 100 TB posture (the dimension is cluster-small; the
    stream is unbounded).

    Exactness: counts and cent-quantized revenue sums are integers;
    the dimension chain is pure equi-join (no arithmetic).

    Scale: per-trigger work is scan + broadcast-join + partial agg
    into (|nations|)-keyed state; dimension re-broadcast per batch is
    the documented trade-off vs a stale cached copy. The stage write
    is harness, not operator.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_senrich_{tag}")
    stage = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .repartition(SW_STAGE_FILES)
        .write.mode("overwrite")
        .parquet(stage)
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "nation").select(
                "n_nationkey", "n_name"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("nation"))
    )

    stream = (
        spark.readStream.schema("o_custkey long, o_totalprice double")
        .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
        .parquet(stage)
    )
    enriched = stream.join(
        F.broadcast(dim), stream.o_custkey == dim.c_custkey
    )
    agg = enriched.groupBy("nation").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )
    qname = f"cw_senrich_out_{tag}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("nation")


SS_GAP_US = 30 * 60 * 1_000_000  # 30-min session gap, integer microseconds
SS_SENTINEL_US = 24 * 3600 * 1_000_000  # sentinel lands 1 day after max ts


@query(
    "streaming_session_state_e2e",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts)
                       - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts))
                       > {SS_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ),
    closed AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
               AS duration_sec
      FROM sess GROUP BY user_id, sid
    )
    SELECT n_events AS session_events,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(duration_sec) AS BIGINT) AS total_duration_sec
    FROM closed
    GROUP BY n_events
    ORDER BY session_events
    """,
)
def streaming_session_state_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 ARBITRARY stateful processing under the oracle gate:
    event-time session-ization (30-min gap) with
    ``applyInPandasWithState`` — per-user session state (start, last
    event, count) lives in the state store and survives micro-batch
    boundaries; a session whose events straddle triggers must still
    come out as ONE session. The oracle states the same sessions
    relationally (gaps-and-islands over ``lag``), so a hash match
    certifies the hand-rolled state machine against the closed-form
    batch answer — the strongest check a custom stateful operator can
    get.

    Files arrive in event-time order (``_stage_by_event_time``), so
    per-key rows are processed in ts order across batches; a sentinel
    row per user, one day after the global max and staged as the LAST
    file, closes each user's final open session (the stream-end flush
    a watermark timeout would provide in a long-running job —
    timeout-based eviction is covered by the
    ``running_user_totals`` golden tests).

    Exactness: session boundaries compare integer microsecond gaps
    (strict > {SS_GAP_US}µs in both lanes); counts and floor-second
    durations are integers.

    Scale: state is one (start, last, n) triple per ACTIVE user, keyed
    and shuffled once; each micro-batch touches only the users present
    in it. This is the shape session stores run at production scale —
    plus a real watermark/timeout for eviction instead of a sentinel.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_sess_{tag}")
    stage = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    # events.ts is TIMESTAMP_NTZ; unix_micros needs an instant. The
    # session-tz cast adds a CONSTANT offset, which cancels in every
    # gap and duration — the only ts arithmetic this entry does.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(False).alias("sentinel"),
    )
    max_us = ev.agg(F.max("ts_us")).first()[0]
    sentinels = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            F.lit(max_us + SS_SENTINEL_US).alias("ts_us"),
            F.lit(True).alias("sentinel"),
        )
    )
    # Range-partitioning ts_us puts every sentinel (strictly greater
    # than any real event) in the LAST file(s): the flush batch.
    _stage_by_event_time(
        ev.unionByName(sentinels), stage, SW_STAGE_FILES, ts_col="ts_us"
    )

    out_schema = (
        "user_id long, start_us long, n_events long, duration_sec long"
    )
    state_schema = "start_us long, last_us long, n long"

    def sessionize(key, pdfs, state):
        (user_id,) = key
        start, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        # Cross-BATCH order is guaranteed by the event-time staging;
        # within one batch the group's rows arrive unordered — sort.
        rows = sorted(
            (ts_us, is_sent)
            for pdf in pdfs
            for ts_us, is_sent in zip(
                pdf["ts_us"].tolist(), pdf["sentinel"].tolist()
            )
        )
        for ts_us, is_sent in rows:
            if start is not None and ts_us - last > SS_GAP_US:
                closed.append(
                    (user_id, start, n, (last - start) // 1_000_000)
                )
                start = None
            if is_sent:
                continue  # sentinels close sessions, never join one
            if start is None:
                start, last, n = ts_us, ts_us, 1
            else:
                last, n = ts_us, n + 1
        if start is None:
            if state.exists:
                state.remove()
        else:
            state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "n_events", "duration_sec"]
            )

    stream = (
        spark.readStream.schema("user_id long, ts_us long, sentinel boolean")
        .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
        .parquet(stage)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    qname = f"cw_sess_out_{tag}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .groupBy(F.col("n_events").alias("session_events"))
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("duration_sec").cast("long").alias("total_duration_sec"),
        )
        .orderBy("session_events")
    )


WI_SUBSET = 9  # streaming-ingest e2e feeds only o_orderkey % 9 == 0
# (coprime with AMEND=7 and DELETE=10; volume is not the cost here —
# the batch count is, so the stage is 4 files / 2 micro-batches:
# every amendment and tombstone lands AFTER its insert's batch has
# committed through the streaming checkpoint)
WI_FILES_PER_TRIGGER = 2
WI_STAGE_FILES = 4

from couchwarehouse_spark.plans.warehouse_e2e import (  # noqa: E402
    AMEND,
    DELETE,
    FEED_DOC_DDL,
    amended_doc,
    envelope,
    order_changes,
    order_doc,
)
from couchwarehouse_spark.streaming.ingest import monitor_warehouse  # noqa: E402
from couchwarehouse_spark.warehouse import Warehouse  # noqa: E402


@query(
    "warehouse_streaming_ingest_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {{amend}} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {{subset}} = 0 AND o_orderkey % {{delete}} <> 0
    GROUP BY 1
    """.format(amend=AMEND, delete=DELETE, subset=WI_SUBSET),
)
def warehouse_streaming_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2/D3 through the REAL warehouse under the oracle gate: the
    derived insert+amend+tombstone changes feed lands as
    {WI_STAGE_FILES} seq-ORDERED files (a CouchDB changes feed is
    seq-ordered, and a landing-zone tailer writes pages in feed
    order), ``monitor_warehouse`` streams them in with
    ``maxFilesPerTrigger={WI_FILES_PER_TRIGGER}`` — so inserts,
    amendments, and tombstones for the same id arrive in DIFFERENT
    foreachBatch micro-batches and the latest-wins/delete semantics
    must hold ACROSS the streaming checkpoint boundary, not within
    one batch — and the entry queries the final conformed table. The
    oracle states the post-ETL answer straight from ``orders``; the
    batch twin is ``warehouse_e2e_pipeline`` (same kernel, one
    spool).

    Scale: each micro-batch is the bounded bucket-pruned merge the
    batch lane runs; the streaming checkpoint adds offset-exact
    resume. The stage write is harness, not operator.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_wstream_{tag}")
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % WI_SUBSET == 0
    )
    feed = orders.select(F.explode(order_changes()).alias("e")).select(
        "e.sortseq", "e.value"
    )
    # Seq-ordered landing files: ascending range partitions land in
    # ascending part-file NAMES — but FileStreamSource orders by
    # MODIFICATION TIME, and the parallel write finishes files in
    # arbitrary order (observed: the lowest-seq insert file landing
    # after the tombstone batch resurrected its deleted ids — the
    # latest-wins merge deletes the row and a feed replayed out of
    # order re-inserts it; a real _changes tail is seq-ordered, which
    # is exactly what this models). Publish the staged files into the
    # landing dir with explicitly monotonic mtimes so the stream
    # drains them in feed order, the way a tailer writes pages.
    stage_tmp = os.path.join(base, "feed_stage")
    (
        feed.repartitionByRange(WI_STAGE_FILES, "sortseq")
        .sortWithinPartitions("sortseq")
        .select("value")
        .write.mode("overwrite")
        .text(stage_tmp)
    )
    os.makedirs(feed_dir, exist_ok=True)
    parts = sorted(
        f for f in os.listdir(stage_tmp)
        if f.startswith("part-") and f.endswith(".txt")
    )
    import time as _time

    t0 = _time.time()
    for i, f in enumerate(parts):
        dst = os.path.join(feed_dir, f)
        shutil.copyfile(os.path.join(stage_tmp, f), dst)
        os.utime(dst, (t0 + i, t0 + i))

    wh = Warehouse(spark, wh_dir, "strorders", reset=True, feed_schema=FEED_DOC_DDL)
    q = monitor_warehouse(
        wh,
        feed_dir,
        ckpt,
        available_now=True,
        max_files_per_trigger=WI_FILES_PER_TRIGGER,
    )
    q.awaitTermination()

    return (
        wh.table()
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("total"), 2).alias("total_revenue"),
        )
    )


@query(
    "streaming_left_interval_join_e2e",
    oracle=f"""
    WITH v AS (
      SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    wm AS (
      -- the stream's FINAL event-time watermark: Spark takes the MIN
      -- across the two watermark-annotated sources (multipleWatermark
      -- policy 'min'), each at its own max event time minus the delay
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
                   (SELECT max(ts) FROM events
                    WHERE event_type = 'purchase'))
             - INTERVAL {SJ_WM_SECONDS} SECOND AS w
    ),
    matched AS (
      SELECT v.user_id, v.view_ts, p.purchase_ts
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.purchase_ts > v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR
    ),
    unmatched_emitted AS (
      -- a view with no purchase emits its NULL-padded row only once
      -- the watermark passes the view's whole match window; views
      -- whose window is still open when the stream ends are HELD
      -- (state discarded at stop) — the oracle states that contract
      SELECT v.user_id, v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      FROM v CROSS JOIN wm
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = v.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR
      )
      AND v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR < wm.w
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unconverted_views
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched_emitted)
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_left_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join under the oracle gate —
    the semantically hardest streaming join Spark offers: matched
    view→purchase pairs emit immediately (the inner part), but a view
    with NO purchase can only emit its NULL-padded row once the
    watermark PROVES no match can still arrive (watermark past
    view_ts + {SJ_ATTR_HOURS}h), and views whose window is still open
    when the stream ends are held in state and never emitted. The
    DuckDB oracle states that exact contract — including the final
    watermark horizon max(ts) − {SJ_WM_SECONDS}s — so the hash match
    certifies both the join results AND the emission semantics, the
    part of outer streaming joins every engine documents and few
    tests pin.

    Exactness: row counts and NULL-indicator sums are integers; the
    horizon comparison is microsecond timestamp arithmetic identical
    in both engines.

    Scale: same bounded keyed state as the inner interval join plus
    the unmatched-left buffer the watermark drains — the production
    attribution-with-fallback shape ("did the view convert within an
    hour, or do we bill it as unconverted?").
    """
    return (
        _view_purchase_join(spark, sf_dir, "cw_sljoin", "left_outer")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("purchase_ts").isNull().cast("int"))
            .cast("long")
            .alias("n_unconverted_views"),
        )
        .orderBy("user_id")
    )


RR_SUBSET = 11  # restart e2e feeds only o_orderkey % 11 == 0
RR_STAGE_FILES = 8  # total seq-ordered landing files
RR_SPLIT = 4  # files landed before the "crash"
RR_FILES_PER_TRIGGER = 2  # -> 2 micro-batches per lifecycle


@query(
    "streaming_restart_resume_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {RR_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def streaming_restart_resume_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 CRASH-RECOVERY under the oracle gate — TWO SEPARATE QUERY
    LIFECYCLES over one streaming checkpoint: the first
    ``monitor_warehouse`` run drains only the first {RR_SPLIT} of
    {RR_STAGE_FILES} seq-ordered feed files and terminates (a bounded
    availableNow drain — the same recovery path as a crash, because
    offsets commit per micro-batch and the foreachBatch merge is
    idempotent by seq); the warehouse is then REOPENED (fresh
    ``Warehouse`` object, schema registry reloaded from
    _schemas.json — a process restart, not a resumed object) and a
    SECOND ``monitor_warehouse`` run on the SAME checkpoint finishes
    the feed. All amendments and tombstones land in lifecycle 2, so
    latest-wins and delete propagation must hold against rows merged
    by lifecycle 1 — across the restart boundary.

    The restart boundary is asserted structurally in-entry, not just
    through the data: (a) both lifecycles share the streaming query
    id but carry DIFFERENT run ids (same query, new execution — the
    checkpoint's identity contract), and (b) the manifest log gains
    exactly ceil({RR_STAGE_FILES - RR_SPLIT}/{RR_FILES_PER_TRIGGER})
    versions in lifecycle 2 — a restart that replayed already-
    committed offsets would commit more. The DuckDB oracle states the
    post-ETL census straight from ``orders``; the single-lifecycle
    twin is ``warehouse_streaming_ingest_e2e``.

    Scale: recovery cost is reading one checkpoint offset log —
    independent of table size; each resumed micro-batch is the same
    bucket-pruned merge as steady state.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_rstream_{tag}")
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % RR_SUBSET == 0
    )
    feed = orders.select(F.explode(order_changes()).alias("e")).select(
        "e.sortseq", "e.value"
    )
    stage_tmp = os.path.join(base, "feed_stage")
    (
        feed.repartitionByRange(RR_STAGE_FILES, "sortseq")
        .sortWithinPartitions("sortseq")
        .select("value")
        .write.mode("overwrite")
        .text(stage_tmp)
    )
    parts = sorted(
        f for f in os.listdir(stage_tmp)
        if f.startswith("part-") and f.endswith(".txt")
    )
    import time as _time

    t0 = _time.time()

    def publish(names, mtime_base):
        os.makedirs(feed_dir, exist_ok=True)
        for i, f in enumerate(names):
            dst = os.path.join(feed_dir, f)
            shutil.copyfile(os.path.join(stage_tmp, f), dst)
            os.utime(dst, (mtime_base + i, mtime_base + i))

    # Lifecycle 1: only the first RR_SPLIT files exist; the bounded
    # drain commits their offsets and merges, then terminates.
    publish(parts[:RR_SPLIT], t0)
    wh = Warehouse(spark, wh_dir, "rrorders", reset=True, feed_schema=FEED_DOC_DDL)
    q1 = monitor_warehouse(
        wh, feed_dir, ckpt,
        available_now=True, max_files_per_trigger=RR_FILES_PER_TRIGGER,
    )
    q1.awaitTermination()
    v_mid = wh.history().count()

    # "Crash": the rest of the feed lands while no query is running;
    # the warehouse is reopened cold and the query RESTARTED from the
    # same checkpoint.
    publish(parts[RR_SPLIT:], t0 + 1_000)
    wh2 = Warehouse(spark, wh_dir, "rrorders", feed_schema=FEED_DOC_DDL)
    q2 = monitor_warehouse(
        wh2, feed_dir, ckpt,
        available_now=True, max_files_per_trigger=RR_FILES_PER_TRIGGER,
    )
    q2.awaitTermination()

    assert q1.id == q2.id, "restart must resume the SAME checkpointed query"
    assert q1.runId != q2.runId, "second lifecycle must be a new run"
    n_tail_batches = -(-(RR_STAGE_FILES - RR_SPLIT) // RR_FILES_PER_TRIGGER)
    v_end = wh2.history().count()
    assert v_end == v_mid + n_tail_batches, (
        f"resume replayed committed offsets: {v_mid} -> {v_end} versions "
        f"(expected +{n_tail_batches})"
    )

    return (
        wh2.table()
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("total"), 2).alias("total_revenue"),
        )
    )


WD_DELAY = "30 minutes"  # dedup horizon: watermark delay on the key state
WD_BASE = "2026-01-01 00:00:00"  # pass-1 event times: base + (doc_id % 86400)s
WD_FILLER_BASE = "2026-01-11 00:00:00"  # watermark pushers, 4 keys < 0
WD_PASS2_BASE = "2026-01-21 00:00:00"  # re-stamped retries, beyond horizon


@query(
    "streaming_dedup_watermark_e2e",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_first_pass_admits,
           CAST(count(*) AS BIGINT) AS n_readmitted_after_horizon,
           CAST(2 * sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def streaming_dedup_watermark_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked dedup (``streaming.stateful.dedup_late_events``,
    keyed on ``doc_id``) under the oracle gate — the BOUNDED-STATE
    dedup production streams actually run (plain ``dropDuplicates``
    state grows forever at 100 TB; the watermarked
    form ages each key out once the watermark passes its event time +
    delay). Three deterministic arrival waves make both sides of the
    horizon contract observable in the final counts:

    1. **Pass 1** stages every document TWICE at the same event time
       (at-least-once delivery duplicates), event-time-ordered files:
       the second copy is always dropped — by the dedup state while
       the key lives, or by the late-input watermark filter after
       eviction (an exact-ts duplicate whose state expired is
       necessarily below the watermark: expiry < wm implies ts < wm).
       Exactly ONE admit per key.
    2. **Two filler micro-batches** (4 sentinel keys < 0, 10 days
       later) push the watermark past every pass-1 key's expiry, so
       all pass-1 state is EVICTED — whether the store cleans up at
       batch start or batch end, the second filler batch's cleanup
       runs with a watermark beyond every expiry before any retry is
       processed (semantics probed empirically; see
       tests/test_streaming_windows.py round-10 pins).
    3. **Pass 2** re-stamps every document once, 20 days out (a retry
       beyond the horizon, above the watermark so never late): with
       its state evicted, each key is RE-ADMITTED exactly once — the
       within-watermark guarantee is bounded, which is the point.

    The dedup keys on ``doc_id`` ALONE (r10 ADVICE fix: keying on
    ``[doc_id, ts]`` would give every re-stamped retry a fresh key,
    making re-admission trivially true and never exercising the
    eviction contract). With the bare key, a pass-2 retry is dropped
    iff its pass-1 state survived — so ``n_readmitted_after_horizon``
    now certifies bounded state, while pass-1 exact-ts duplicates are
    still dropped either by live state or by the late-input filter
    (state expiry < wm implies the duplicate's ts < wm).

    The oracle states both horizon outcomes per source: first-pass
    admits = count(*) (duplicates dropped), re-admits = count(*)
    (state bounded, keys aged out), chars = 2·sum (each doc's payload
    admitted once per wave). Any over-dropping, duplicate admission,
    or unbounded state flips an integer.

    Scale: state is |keys within the watermark horizon|, not |stream
    history| — the entire reason this operator exists; eviction is
    the state store's native TTL, no user code.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cw_wmdedup_{tag}")
    stage = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    pass1 = d.withColumn(
        "ts",
        F.expr(
            f"timestamp'{WD_BASE}' + make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)"
        ),
    )
    pass2 = d.withColumn(
        "ts",
        F.expr(
            f"timestamp'{WD_PASS2_BASE}' + make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)"
        ),
    )
    fillers = spark.range(4).select(
        (-F.col("id") - 1).alias("doc_id"),
        F.lit("_wm_filler").alias("source"),
        F.lit(0).cast("long").alias("n_chars"),
        F.expr(f"timestamp'{WD_FILLER_BASE}' + make_interval(0, 0, 0, 0, id, 0, 0)").alias("ts"),
    )

    import time as _time

    t0 = _time.time()
    # Duplicated pass-1 rows land via ONE range-partitioned stage so
    # both copies of a key fall in the same or adjacent files.
    _stage_by_event_time(
        pass1.unionByName(pass1), stage, SW_STAGE_FILES, mtime_base=t0
    )
    _stage_by_event_time(fillers, stage, 4, mtime_base=t0 + 1_000)
    _stage_by_event_time(pass2, stage, SW_STAGE_FILES, mtime_base=t0 + 2_000)

    stream = dedup_late_events(
        spark.readStream.schema("doc_id long, source string, n_chars long, ts timestamp")
        .option("maxFilesPerTrigger", SW_FILES_PER_TRIGGER)
        .parquet(stage),
        WD_DELAY,
        key="doc_id",
    )
    qname = f"cw_wmdedup_out_{tag}"
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cutoff = F.lit(WD_PASS2_BASE).cast("timestamp")
    return (
        spark.table(qname)
        .filter(F.col("doc_id") >= 0)
        .groupBy("source")
        .agg(
            F.sum((F.col("ts") < cutoff).cast("int"))
            .cast("long")
            .alias("n_first_pass_admits"),
            F.sum((F.col("ts") >= cutoff).cast("int"))
            .cast("long")
            .alias("n_readmitted_after_horizon"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 11: the OPTIMIZE-vs-ingest commit race under the oracle gate.
# ---------------------------------------------------------------------------

CI_SUBSET = 11  # concurrent-compact e2e feeds only o_orderkey % 11 == 0
CI_XAMEND = 33  # post-stream wave amends xorder ids where key % 33 == 0
CI_STAGE_FILES = 1  # files PER WAVE (3 waves → 3 single-file micro-batches:
# merge1 = order inserts, merge2 = xorder inserts — carries merge1's
# files forward by id-range pruning, so buckets fragment — merge3 =
# amends+tombstones, raced. Half the r11 trigger rounds with the same
# fragmentation precondition and the same census hash.)
CI_ARM_BASE = 2  # inject the rival compaction under the 3rd merge commit
# (merge k pins base version k-1, so the amend-wave merge carries base 2)

from couchwarehouse_spark.warehouse import ConcurrentCommitError  # noqa: E402


class _CompactRacedWarehouse(Warehouse):
    """Deterministic OPTIMIZE-vs-ingest interleaving (fault injection
    for ``concurrent_compact_ingest_e2e``): once armed, the FIRST
    merge commit whose pinned base reaches ``arm_base`` has a rival
    maintenance writer commit a compaction of the same table BETWEEN
    this ingestor's manifest read and its own commit — the exact
    window the read-version+1 protocol (``_commit_manifest``) exists
    to protect. The ingest commit then collides LOUDLY
    (ConcurrentCommitError) and the ``merge_retries`` loop replays
    the batch against the compacted head. Wall-clock thread races
    cover this window only by luck; pinning the interleaving makes
    the loser path a certainty the oracle can grade."""

    rival: Warehouse | None = None
    arm_base: int | None = None
    n_collisions = 0
    n_rival_rewrites = 0

    def _commit_manifest(self, path, op, *args, **kwargs):
        base = kwargs.get("base_version")
        if (
            self.rival is not None
            and self.arm_base is not None
            and op == "merge"
            and base is not None
            and base >= self.arm_base
        ):
            self.arm_base = None  # fire exactly once
            self.n_rival_rewrites = self.rival.compact(max_files_per_bucket=1)
        try:
            return super()._commit_manifest(path, op, *args, **kwargs)
        except ConcurrentCommitError:
            self.n_collisions += 1
            raise


@query(
    "concurrent_compact_ingest_e2e",
    oracle=f"""
    WITH survivors AS (
      SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                  ELSE o_orderstatus END       AS status,
             o_totalprice                      AS total
      FROM orders
      WHERE o_orderkey % {CI_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
      UNION ALL
      SELECT CASE WHEN o_orderkey % {CI_XAMEND} = 0 THEN 'zamended'
                  ELSE o_orderstatus END,
             o_totalprice
      FROM orders
      WHERE o_orderkey % {CI_SUBSET} = 0
    )
    SELECT status,
           CAST(count(*) AS BIGINT)            AS n_orders,
           round(sum(total), 2)                AS total_revenue
    FROM survivors
    GROUP BY 1
    """,
)
def concurrent_compact_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE committing under a LIVE ingest stream, both directions
    of the race, under the oracle gate (r10 verdict #3 — the
    production maintenance-vs-ingest hazard; until now the retry loop
    was pytest-only and maintenance always ran on a quiet table):

    1. **Ingest loses, replays.** A seq-ordered insert+amend+tombstone
       feed with TWO disjoint id prefixes (``order…``/``xorder…`` —
       the second wave's merges carry the first wave's part files
       forward by id-range pruning, so buckets genuinely fragment)
       streams through ``monitor_warehouse`` one file per micro-batch.
       A fault-injected ``_commit_manifest`` has a RIVAL warehouse
       handle commit ``compact(max_files_per_bucket=1)`` between the
       5th merge's manifest read and its commit. The merge's pinned
       read-version+1 target is taken → ``ConcurrentCommitError`` →
       the ``merge_retries`` loop replays the SAME conformed batch
       against the compacted head (idempotent by seq), and the stream
       keeps going. Asserted: exactly one collision, the rival
       rewrote ≥1 fragmented bucket, and a ``compact`` version sits
       strictly BETWEEN merge versions in the history.
    2. **Maintenance loses, loudly.** After the stream drains, a
       maintenance planner reads the head manifest; a live ingest
       wave (amending ``xorder`` ids) spools and commits under its
       feet; the planner's pinned commit must then raise
       ``ConcurrentCommitError`` rather than silently building over
       the newer version (the lost-update the base-version pin
       exists to prevent).

    The oracle states the final census straight from ``orders`` —
    whichever writer wins each raced commit, compaction must move
    bytes without changing content and the replayed merge must apply
    latest-wins exactly once, or a count/sum flips.

    Scale: this is THE 100 TB operating mode — OPTIMIZE runs
    continuously beside ingest; correctness comes from the manifest
    put-if-absent (one winner per version) plus idempotent-by-seq
    replay, not from scheduling maintenance windows.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base_dir = os.path.join(tempfile.gettempdir(), f"cw_cci_{tag}")
    feed_dir = os.path.join(base_dir, "feed")
    wh_dir = os.path.join(base_dir, "wh")
    ckpt = os.path.join(base_dir, "ckpt")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % CI_SUBSET == 0
    )

    key = F.col("o_orderkey")
    waves = [
        orders.select(envelope(0, "order", order_doc("order")).alias("e")),
        orders.select(envelope(500_000_000, "xorder", order_doc("xorder")).alias("e")),
        orders.select(F.explode(order_changes()).alias("e")).filter("e.phase = 2"),
    ]
    # Seq-ordered landing files with monotonic mtimes (the tailer
    # discipline). Each wave stages SEPARATELY so its files carry a
    # single id prefix: a boundary file mixing `order…` and `xorder…`
    # would have an id range spanning both prefixes, every later merge
    # would rewrite it, and the buckets would never fragment — the
    # compaction under test would have nothing to do.
    os.makedirs(feed_dir, exist_ok=True)
    import time as _time

    t0 = _time.time()
    for w, wave in enumerate(waves):
        stage_tmp = os.path.join(base_dir, f"feed_stage_{w}")
        (
            wave.select("e.sortseq", "e.value")
            .repartitionByRange(CI_STAGE_FILES, "sortseq")
            .sortWithinPartitions("sortseq")
            .select("value")
            .write.mode("overwrite")
            .text(stage_tmp)
        )
        parts = sorted(
            f for f in os.listdir(stage_tmp)
            if f.startswith("part-") and f.endswith(".txt")
        )
        for i, f in enumerate(parts):
            dst = os.path.join(feed_dir, f)
            shutil.copyfile(os.path.join(stage_tmp, f), dst)
            os.utime(dst, (t0 + 1000 * w + i, t0 + 1000 * w + i))

    wh = _CompactRacedWarehouse(
        spark, wh_dir, "ciorders", reset=True,
        feed_schema=FEED_DOC_DDL, merge_retries=2,
    )
    wh.rival = Warehouse(spark, wh_dir, "ciorders", feed_schema=FEED_DOC_DDL)
    wh.arm_base = CI_ARM_BASE
    q = monitor_warehouse(
        wh, feed_dir, ckpt, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination()
    assert wh.arm_base is None, "injection never armed — feed too short"
    assert wh.n_collisions == 1, wh.n_collisions
    assert wh.n_rival_rewrites > 0, "rival compaction found nothing fragmented"
    path = wh._table_path("_default")
    hist = {
        m["version"]: m["op"]
        for v in wh._list_versions(path)
        if (m := wh._load_manifest(path, version=v)) is not None
    }
    compact_vs = [v for v, op in hist.items() if op == "compact"]
    merge_vs = [v for v, op in hist.items() if op == "merge"]
    assert compact_vs and min(merge_vs) < compact_vs[0] < max(merge_vs), hist

    # Direction 2: the maintenance planner reads, a live ingest wave
    # commits under its feet, the planner's pinned commit collides.
    stale = wh._load_manifest(path)
    xwave_dir = os.path.join(base_dir, "feed_x")
    xenv = envelope(
        3_000_000_000, "xorder", amended_doc(order_doc("xorder"), "zamended")
    )
    (
        orders.filter(key % CI_XAMEND == 0)
        .select(xenv.alias("e"))
        .select("e.value")
        .write.mode("overwrite")
        .text(xwave_dir)
    )
    wh.spool(xwave_dir)
    try:
        wh.rival._commit_manifest(
            path,
            "compact",
            {int(b): fs for b, fs in stale["buckets"].items()},
            stale["schema"],
            {int(b): per for b, per in stale.get("stats", {}).items()},
            base_version=stale["version"],
            n_buckets=wh._manifest_buckets_n(stale),
        )
    except ConcurrentCommitError:
        pass  # loud loser — the contract
    else:
        raise AssertionError("stale maintenance commit silently won")

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


@query(
    "streaming_full_outer_interval_join_e2e",
    oracle=f"""
    WITH v AS (
      SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
                   (SELECT max(ts) FROM events
                    WHERE event_type = 'purchase'))
             - INTERVAL {SJ_WM_SECONDS} SECOND AS w
    ),
    matched AS (
      SELECT v.user_id, v.view_ts, p.purchase_ts
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.purchase_ts > v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR
    ),
    unmatched_views AS (
      -- left side: emitted once the watermark passes the view's whole
      -- match window (STRICT <, the boundary the left-outer entry pinned)
      SELECT v.user_id, v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
      FROM v CROSS JOIN wm
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = v.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR
      )
      AND v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR < wm.w
    ),
    unmatched_purchases AS (
      -- right side: a purchase only matches EARLIER views, so it is
      -- provably unmatchable once the watermark reaches its event
      -- time — INCLUSIVE <=, probed empirically (a purchase at
      -- exactly wm emits; one microsecond past is held; pinned in
      -- tests/test_round11_ops.py)
      SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS view_ts, p.purchase_ts
      FROM p CROSS JOIN wm
      WHERE NOT EXISTS (
        SELECT 1 FROM v WHERE v.user_id = p.user_id
          AND p.purchase_ts > v.view_ts
          AND p.purchase_ts <= v.view_ts + INTERVAL {SJ_ATTR_HOURS} HOUR
      )
      AND p.purchase_ts <= wm.w
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unconverted_views,
           CAST(sum(CASE WHEN view_ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_organic_purchases
    FROM (SELECT * FROM matched
          UNION ALL SELECT * FROM unmatched_views
          UNION ALL SELECT * FROM unmatched_purchases)
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_full_outer_interval_join_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream interval join under the oracle gate —
    completes the streaming join-mode matrix (inner
    `streaming_interval_join_e2e`, left-outer
    `streaming_left_interval_join_e2e`, and now both unmatched sides
    at once): matched view→purchase pairs emit immediately; an
    unconverted view emits NULL-padded once the watermark passes its
    whole match window (strict <); an ORGANIC purchase — one no view
    preceded within {SJ_ATTR_HOURS}h — emits NULL-padded once the
    watermark reaches its own event time, because purchases only
    match EARLIER views, so wm ≥ purchase_ts proves no future view
    can pair with it. That right-side horizon is INCLUSIVE (≤): a
    purchase at exactly the final watermark emits, one past it is
    held — probed empirically and pinned in
    tests/test_round11_ops.py, since this asymmetric two-horizon
    emission contract is precisely what the batch SQL must state for
    the hash to match.

    The production shape is attribution with BOTH fallbacks: bill
    unconverted views AND credit organic purchases, one pass.

    Exactness: counts and two NULL-indicator sums are integers; both
    horizons are microsecond timestamp arithmetic identical in both
    engines (no event lands exactly on the final watermark at any
    shipped SF — verified — so the pinned boundary convention is
    load-bearing only for the planted test).

    Scale: the same bounded keyed state as the one-sided joins; the
    right buffer drains at wm ≥ purchase_ts, strictly sooner than the
    left's wm > view_ts + window — state is never larger than the
    left-outer case.
    """
    return (
        _view_purchase_join(spark, sf_dir, "cw_sfojoin", "full_outer")
        .groupBy(F.coalesce("v_user", "p_user").alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("purchase_ts").isNull().cast("int"))
            .cast("long")
            .alias("n_unconverted_views"),
            F.sum(F.col("view_ts").isNull().cast("int"))
            .cast("long")
            .alias("n_organic_purchases"),
        )
        .orderBy("user_id")
    )

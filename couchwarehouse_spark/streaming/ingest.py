"""Structured-Streaming ingest: the continuous analog of the batch
spool (D1/D2/D3; SURVEY.md §2.D).

The reference's two modes map directly (reference index.js:75-170):

* **spool** (one long poll to now) → ``Trigger.AvailableNow`` — drain
  everything currently in the landing zone, then stop;
* **monitor** (repeated longpolls) → processing-time trigger — keep
  tailing as new feed pages land.

Either way the per-batch body is the SAME ``Warehouse._process_batch``
the batch lane runs — ``foreachBatch`` is the reference's ``'batch'``
event (reference index.js:105-125) with exactly-once bookkeeping from
the streaming checkpoint (D2: offsets/commits under
``checkpointLocation``; the warehouse's own CheckpointStore mirrors
the reference's couchwarehouse_checkpoints table on top).

The feed source here is a JSON-lines landing directory (what a real
deployment's HTTP tailer, ``sources.http_changes``, writes page by
page): the file stream supports ``Trigger.AvailableNow`` and
``maxFilesPerTrigger`` rate limiting, which Spark 4's Python data
sources don't yet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from couchwarehouse_spark.operators.document import seq_number_col
from couchwarehouse_spark.operators.upsert import SEQ_COL
from couchwarehouse_spark.warehouse import Warehouse

# Envelope wire format (FIXTURES.md §D; reference test/samplechanges.txt:2).
# ``doc`` stays a JSON string at the streaming boundary — the frozen
# per-type schema is what gives it structure (Warehouse conformance),
# so the stream never needs schema inference.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("doc", T.StringType()),
    ]
)


def read_changes_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a changes-feed landing directory (R1/R2).

    ``max_files_per_trigger`` is the rate-limit knob — the reference's
    "slow mode" (R3, reference index.js:92-100: paged ``get`` instead
    of one long ``spool`` so the sink keeps up). Backpressure in
    Spark is exactly this micro-batch sizing.
    """
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # Envelope lines arrive with doc as nested JSON; read as text and
    # split envelope fields so `doc` stays an opaque string column.
    raw = reader.json(feed_dir)
    return raw


def monitor_warehouse(
    warehouse: Warehouse,
    feed_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous sync: stream the feed directory into the warehouse.

    ``available_now=True`` = the spool semantics (drain and stop,
    reference index.js:75-140); ``False`` = monitor mode (keep
    tailing, reference index.js:143-170). The streaming checkpoint
    gives offset-exact resume (D2); the merge inside
    ``_process_batch`` is idempotent by seq (latest-wins), so
    foreachBatch's at-least-once becomes effectively-once (D3).
    """
    stream = read_changes_stream(
        warehouse.spark, feed_dir, max_files_per_trigger=max_files_per_trigger
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scratch = os.path.join(warehouse.warehouse_dir, "_scratch", f"docschema_{batch_id}")
        last = warehouse._process_batch(
            _parse_docs(warehouse.spark, batch_df, scratch)
        )
        if last is not None:
            warehouse.checkpoints.write(warehouse.db_name, last)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _parse_docs(
    spark: SparkSession, batch_df: DataFrame, scratch_dir: str | None = None
) -> DataFrame:
    """Parse the batch's doc JSON strings into a struct column.

    Schema = ``spark.read.json`` union inference over ALL docs in the
    micro-batch — lossless: a field carried by any doc of the batch
    becomes a struct field (first-doc-only inference would null it
    out, and latest-wins merge would then overwrite stored values).
    The inference pass is JVM-only: the doc strings are spooled to a
    scratch text dir and re-read — no ``.rdd``, no per-row Python in
    the streaming hot path. Micro-batches are bounded, so the extra
    write is one bounded sequential pass.

    ``scratch_dir`` must be on storage BOTH executors and driver can
    see (the warehouse dir qualifies — monitor_warehouse passes
    ``<warehouse_dir>/_scratch/...``). A node-local /tmp default would
    silently break on a multi-node cluster: executors would write
    their part files locally while the driver reads an empty dir.
    """
    import shutil
    import tempfile

    tmp = scratch_dir or tempfile.mkdtemp(prefix="cw_docschema_")
    try:
        batch_df.select(
            F.coalesce(F.col("doc"), F.lit("{}")).alias("value")
        ).write.mode("overwrite").text(tmp)
        doc_schema = spark.read.json(tmp).schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch_df.withColumn("doc", F.from_json("doc", doc_schema))
        .withColumn(SEQ_COL, seq_number_col("seq"))
    )

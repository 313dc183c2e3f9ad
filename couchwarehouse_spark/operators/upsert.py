"""Latest-wins upsert, tombstone delete, checkpointing (R11/R12/R14/R19).

The reference loads each changes batch in one transaction with
``REPLACE INTO`` / ``ON CONFLICT (id) DO UPDATE`` per row
(reference lib/sqlite.js:55-121, lib/postgresql.js:60-126) and turns
``deleted`` changes into ``DELETE FROM t WHERE id = ?``
(lib/sqlite.js:95-98). Checkpoints append ``(tablename, seq)`` rows
and resume from the latest one (lib/sqlite.js:138-170).

Spark-first design (no row-at-a-time anything):

* **latest-wins** — ``row_number() OVER (PARTITION BY id ORDER BY
  seq DESC) = 1``: one shuffle on the document id (high-cardinality,
  no skew), each id's state fits trivially in a window partition.
* **delete propagation** — a broadcast ``LEFT ANTI`` join of state
  against the batch's tombstone ids (tombstones per batch ≪ state).
* **merge** — new state = latest-wins over (old state ∪ batch
  upserts) minus tombstones. Idempotent by construction: replaying a
  batch can't change the outcome because seq ordering decides.
  At 100 TB the upgrade path is Delta/Iceberg ``MERGE`` which makes
  this incremental instead of snapshot-rewrite; semantics identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEQ_COL = "_cw_seq"  # numeric change-sequence attached by the ingest layer


def latest_wins(df: DataFrame, key: str = "id", seq: str = SEQ_COL) -> DataFrame:
    """Keep only each key's highest-seq row (R11's upsert semantics).

    ``row_number`` (not ``rank``) guarantees exactly one survivor per
    key even on seq ties; ties break arbitrarily-but-deterministically
    via the extra monotonic tiebreak column when present.
    """
    order = [F.col(seq).desc()]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_cw_rn", F.row_number().over(w))
        .filter(F.col("_cw_rn") == 1)
        .drop("_cw_rn")
    )


def apply_deletes(state: DataFrame, tombstone_ids: DataFrame, key: str = "id") -> DataFrame:
    """Anti-join delete propagation (R12; reference lib/sqlite.js:95-98).

    ``tombstone_ids`` holds one column named ``key``. Broadcast: a
    batch's tombstones are tiny next to table state.
    """
    return state.join(F.broadcast(tombstone_ids), on=key, how="left_anti")


DELETED_COL = "_cw_deleted"


def merge_batch(
    state: DataFrame | None,
    upserts: DataFrame,
    tombstones: DataFrame | None,
    key: str = "id",
    seq: str = SEQ_COL,
) -> DataFrame:
    """One changes-batch merge: seq-ordered upserts and deletes.

    Matches the reference's per-batch semantics (lib/sqlite.js:57-112)
    while staying correct under replay and re-creation: tombstones are
    unioned in as ``(key, seq, deleted=true)`` rows and compete in the
    same latest-wins window, so a delete at seq 40 loses to a
    re-created doc at seq 50 (CouchDB emits exactly this sequence when
    a doc is deleted and recreated). A plain anti-join would delete
    the recreated row; this doesn't.

    ``state`` rows keep their stored seq, so merging is idempotent:
    replaying an already-applied batch changes nothing.
    """
    merged = upserts.withColumn(DELETED_COL, F.lit(False))
    if tombstones is not None:
        tomb = tombstones.select(key, seq).withColumn(DELETED_COL, F.lit(True))
        merged = merged.unionByName(tomb, allowMissingColumns=True)
    if state is not None:
        merged = state.withColumn(DELETED_COL, F.lit(False)).unionByName(
            merged, allowMissingColumns=True
        )
    winners = latest_wins(merged, key=key, seq=seq)
    return winners.filter(~F.col(DELETED_COL)).drop(DELETED_COL)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str = "id", seq: str = SEQ_COL
) -> DataFrame:
    """Change-data-capture between two table states (ETL-kernel
    companion to the merge): every key classified as ``insert`` (only
    in ``new``), ``delete`` (only in ``old``) or ``update`` (in both
    with a different seq — the seq IS the version stamp the merge
    maintains, so no column-by-column compare is needed). Unchanged
    keys are dropped. This is the change feed a downstream consumer
    (the reference's ES/JDBC sinks, an audit log, an incremental
    materialized view) applies to follow the warehouse.

    Scale: one full-outer join on the key — both sides are table
    states with the same bucket layout, and the output is only the
    changed keys. Seq comparison, not row comparison: O(1) per key
    regardless of column count.
    """
    o = old.select(F.col(key).alias("_k"), F.col(seq).alias("_seq_old"))
    n = new.select(F.col(key).alias("_k"), F.col(seq).alias("_seq_new"))
    joined = o.join(n, "_k", "full_outer")
    change = (
        F.when(F.col("_seq_old").isNull(), F.lit("insert"))
        .when(F.col("_seq_new").isNull(), F.lit("delete"))
        .when(F.col("_seq_old") != F.col("_seq_new"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.col("_k").alias(key),
            "change_type",
            F.col("_seq_old").alias("old_seq"),
            F.col("_seq_new").alias("new_seq"),
        )
    )


def cdc_payload(
    diff: DataFrame, new_state: DataFrame, key: str = "id"
) -> DataFrame:
    """Join a ``snapshot_diff`` back to the new state: one row per
    CHANGED key carrying the new column values (NULLs for deletes)
    plus boolean ``_cw_deleted`` — exactly the shape both live sinks
    apply directly (``DialectSink.insert_bulk(deleted_col=...)``
    REPLACE/DELETEs it; ``push_bulk_http(deleted_col=...)`` turns it
    into index/delete bulk actions). This is the incremental follow:
    a 0.1%-churn batch ships 0.1% of the state, not a re-export.

    Scale: one key join between the (small) changed-key set and the
    new state — AQE broadcasts the diff side while it fits.
    """
    marked = diff.select(
        F.col(key),
        (F.col("change_type") == "delete").alias(DELETED_COL),
    )
    return marked.join(new_state, key, "left")


class CheckpointStore:
    """Append-only ``(tablename, seq)`` checkpoint log (R14).

    Mirrors ``couchwarehouse_checkpoints`` (reference lib/sqlite.js:11,
    138-170): ``write`` appends one row; ``read`` returns the latest
    seq for a table (resume point), or None. Backed by a parquet
    directory — append-only writes, resume = ``max_by(seq, ord)``
    which Spark executes as a tiny agg, exactly the reference's
    ``ORDER BY id DESC LIMIT 1``.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # In-process cache: under the single-writer contract this store
        # is the only thing appending, so after the first read (or any
        # write) the latest seq is known without re-scanning the log —
        # one fewer parquet read+agg per micro-batch in monitor mode.
        # A fresh process (new store) still resumes from the log.
        self._cache: dict[str, str | None] = {}

    # Compact the log once it fragments past this many part files —
    # every micro-batch appends one tiny file, so an unattended monitor
    # would otherwise accumulate unbounded files and resume scans
    # would slow with uptime.
    COMPACT_THRESHOLD = 64

    def write(self, tablename: str, seq: str) -> None:
        import time

        # Parameterized literal SELECT, not createDataFrame: a Python
        # list literal becomes an RDD scan that boots a Python worker
        # for one row (~seconds); this stays JVM-only.
        df = self.spark.sql(
            "SELECT CAST(:t AS STRING) AS tablename,"
            "       CAST(:s AS STRING) AS seq,"
            "       CAST(:o AS LONG)   AS ord",
            args={"t": tablename, "s": seq, "o": time.time_ns()},
        )
        df.coalesce(1).write.mode("append").parquet(self.path)
        self._cache[tablename] = seq
        if len(self._part_files()) > self.COMPACT_THRESHOLD:
            # Best-effort maintenance: a compaction racing another HA
            # writer's compaction may lose files mid-read — never let
            # that kill the ingest loop; the next write retries.
            try:
                self.compact()
            except Exception:
                pass

    def _part_files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return [
            f
            for f in os.listdir(self.path)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    def compact(self) -> int:
        """Collapse the log to its latest row per table. Crash-safe by
        ordering, not atomicity: the surviving rows (with their
        ORIGINAL ords) are APPENDED as one new file first, and only
        then are the pre-existing files deleted — a crash at any point
        leaves duplicates at worst, and ``max_by(seq, ord)`` reads the
        same resume point through duplicates. Returns files removed."""
        import time

        before = self._part_files()
        if len(before) <= 1:
            return 0
        # Same concurrent-append tolerance as read(): another writer
        # deleting ITS compacted-away files between our listing and
        # our scan is survivable — retry the read+append.
        last_err: Exception | None = None
        for _ in range(3):
            try:
                latest = (
                    self.spark.read.parquet(self.path)
                    .groupBy("tablename")
                    .agg(F.max_by(F.struct("seq", "ord"), "ord").alias("m"))
                    .select(
                        "tablename",
                        F.col("m.seq").alias("seq"),
                        F.col("m.ord").alias("ord"),
                    )
                )
                latest.coalesce(1).write.mode("append").parquet(self.path)
                last_err = None
                break
            except Exception as err:  # transient mid-compact read
                last_err = err
                before = self._part_files()
                time.sleep(0.3)
        if last_err is not None:
            raise last_err
        removed = 0
        for fn in before:
            try:
                os.remove(os.path.join(self.path, fn))
                removed += 1
            except FileNotFoundError:
                pass
        return removed

    def read(self, tablename: str) -> str | None:
        if tablename in self._cache:
            return self._cache[tablename]
        if not os.path.isdir(self.path):
            return None
        # Tolerate concurrent appends: the writer's commit protocol
        # keeps a _temporary dir while a checkpoint row lands, and a
        # read racing it can fail or see a partial listing — retry.
        import time

        last_err: Exception | None = None
        for _ in range(3):
            try:
                df = self.spark.read.parquet(self.path).filter(
                    F.col("tablename") == tablename
                )
                rows = df.agg(F.max_by("seq", "ord").alias("seq")).collect()
                seq = rows[0]["seq"] if rows and rows[0]["seq"] is not None else None
                self._cache[tablename] = seq
                return seq
            except Exception as err:  # transient mid-commit read
                last_err = err
                time.sleep(0.3)
        raise last_err

    def reset(self) -> None:
        """R19 — forget all checkpoints (next run starts from seq 0)."""
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        self._cache.clear()

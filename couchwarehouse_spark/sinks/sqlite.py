"""SQLite follower — continuous sync to the reference's default
target (reference lib/sqlite.js). The statements (``CREATE TABLE IF
NOT EXISTS`` from the discovered schema, per-change ``REPLACE INTO``
upserts and ``DELETE ... WHERE id=?`` tombstones, the
``couchwarehouse_checkpoints`` table) and the egress protocol are the
``sqlite`` row of ``sinks.dialects.DialectSink``.

Transport is the stdlib ``sqlite3`` module on the DRIVER — exactly
the reference's topology (one Node process, one better-sqlite3
handle); SQLite is a single-writer embedded file, so a distributed
writer cannot beat a single connection anyway. For genuinely
parallel relational egress the JDBC adapter (``sinks.jdbc``) is the
scale lane; this follower's job is per-row parity with the
reference's primary backend, verifiable in-container.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame

from couchwarehouse_spark.sinks.dialects import DialectSink


def sqlite_follower(path: str):
    """Warehouse follower: mirror every merged micro-batch into a
    SQLite file — the reference's continuous CouchDB→SQLite sync
    (per-batch insertBulk, lib/sqlite.js:60-110), driven by the SAME
    conformed frame the warehouse merge applied. Latest-wins within
    the batch is applied before REPLACE so an in-batch amendment
    cannot be overwritten by its older version arriving later in the
    iterator; cross-batch replays are idempotent because REPLACE and
    DELETE are.

    Usage::

        wh = Warehouse(spark, dir, "mydb",
                       followers=[sqlite_follower("./mydb.sqlite")])
        wh.spool(feed)          # or monitor_warehouse(...) — streaming
    """
    from pyspark.sql import functions as F

    from couchwarehouse_spark.operators.upsert import SEQ_COL, latest_wins

    def follow(wh, doc_type: str, conformed: DataFrame, tombstones: DataFrame) -> None:
        schema = {"id": "string", **wh.schemas[doc_type]}
        table = wh.table_name(doc_type)
        con = sqlite3.connect(path)
        try:
            sink = DialectSink(con, "sqlite")
            sink.create_table(table, schema)
            # Same seq-ordered union the merge applies: a delete-then-
            # recreate within one batch resolves to the recreate, and a
            # stale tombstone can never kill a newer live row.
            live = conformed.withColumn("_cw_del", F.lit(False))
            tomb = tombstones.select("id", SEQ_COL).withColumn(
                "_cw_del", F.lit(True)
            )
            merged = live.unionByName(tomb, allowMissingColumns=True)
            winners = latest_wins(merged, key="id", seq=SEQ_COL)
            sink.insert_bulk(
                table, winners.drop(SEQ_COL), schema, deleted_col="_cw_del"
            )
        finally:
            con.close()

    return follow

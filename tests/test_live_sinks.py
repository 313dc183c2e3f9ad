"""Live sink round-trips, in-container: SQLite (the reference's
default target, stdlib sqlite3) and Elasticsearch ``_bulk`` over HTTP
(stdlib fake server) — closing the loop past option-assembly and
wire-format files.
"""

from __future__ import annotations

import json
import sqlite3
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from couchwarehouse_spark.sinks.dialects import (
    CHECKPOINT_TABLE,
    DialectSink,
    create_table_sql,
)
from couchwarehouse_spark.sinks.elasticsearch import push_bulk_http

SCHEMA = {"id": "string", "name": "string", "price": "number", "paid": "boolean"}


def _frame(spark, rows):
    values = ", ".join(
        "({}, {}, {}, {}, {})".format(
            f"'{r[0]}'",
            "NULL" if r[1] is None else f"'{r[1]}'",
            "NULL" if r[2] is None else r[2],
            "NULL" if r[3] is None else str(r[3]).lower(),
            str(r[4]).lower(),
        )
        for r in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS t(id, name, price, paid, deleted)"
    )


# -- SQLite ------------------------------------------------------------
def test_sqlite_ddl_matches_reference_dialect():
    stmts = create_table_sql("sqlite", "mydb", SCHEMA, reset=True)
    assert stmts[0] == 'DROP TABLE IF EXISTS "mydb"'
    assert '"id" TEXT PRIMARY KEY' in stmts[1]
    assert '"price" REAL' in stmts[1]
    assert '"paid" INTEGER' in stmts[1]


def test_sqlite_replace_into_upsert_and_delete(spark, tmp_path):
    sink = DialectSink(sqlite3.connect(str(tmp_path / "wh.sqlite")), "sqlite")
    sink.create_table("mydb", SCHEMA)
    df1 = _frame(spark, [("a", "ann", 1.5, True, False),
                         ("b", "bob", 2.0, False, False)])
    assert sink.insert_bulk("mydb", df1, SCHEMA, deleted_col="deleted") == 2
    # Second batch: REPLACE upserts 'a', tombstone deletes 'b',
    # inserts 'c' — idempotent replay applies cleanly.
    df2 = _frame(spark, [("a", "ann2", 9.0, True, False),
                         ("b", None, None, None, True),
                         ("c", "cal", 3.0, False, False)])
    sink.insert_bulk("mydb", df2, SCHEMA, deleted_col="deleted")
    sink.insert_bulk("mydb", df2, SCHEMA, deleted_col="deleted")  # replay
    rows = dict(
        (r[0], r) for r in sink.con.execute('SELECT id, name, price FROM "mydb"').fetchall()
    )
    assert set(rows) == {"a", "c"}
    assert rows["a"][1] == "ann2" and rows["a"][2] == 9.0
    sink.con.close()


def test_sqlite_checkpoint_roundtrip(tmp_path):
    sink = DialectSink(sqlite3.connect(str(tmp_path / "ck.sqlite")), "sqlite")
    assert sink.read_checkpoint("mydb") is None
    sink.write_checkpoint("mydb", "42-abc")
    sink.write_checkpoint("mydb", "99-zzz")
    assert sink.read_checkpoint("mydb") == "99-zzz"
    assert sink.con.execute(f'SELECT count(*) FROM "{CHECKPOINT_TABLE}"').fetchall()[0][0] == 2
    sink.con.close()


def test_sqlite_end_to_end_from_warehouse_feed(spark, tmp_path):
    """Feed fixtures → warehouse merge → SQLite egress: the sqlite
    file answers the same count the warehouse does."""
    import random

    from couchwarehouse_spark.warehouse import Warehouse

    from .fixtures import envelope, order_doc, write_feed

    rng = random.Random(11)
    feed = write_feed(
        str(tmp_path / "feed"),
        [envelope(i + 1, order_doc(i, rng)) for i in range(9)],
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), "sldb", verbose=False)
    wh.spool(feed)
    state = wh.table("_default")
    schema = {"id": "string", **{
        c: "string" for c in state.columns if c != "id"
    }}
    sink = DialectSink(sqlite3.connect(str(tmp_path / "out.sqlite")), "sqlite")
    sink.create_table("sldb", schema)
    sink.insert_bulk("sldb", state, schema)
    [(n,)] = sink.con.execute('SELECT count(*) FROM "sldb"').fetchall()
    assert n == state.count() == 9
    sink.con.close()


# -- Elasticsearch _bulk over HTTP ------------------------------------
class FakeES:
    def __init__(self):
        self.bodies: list[str] = []
        self.lock = threading.Lock()

    def actions(self) -> list[dict]:
        out = []
        with self.lock:
            for body in self.bodies:
                out.extend(json.loads(l) for l in body.splitlines() if l.strip())
        return out


def _serve_es(fake: FakeES):
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            assert urllib.parse.urlparse(self.path).path == "/_bulk"
            assert self.headers["Content-Type"] == "application/x-ndjson"
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode()
            with fake.lock:
                fake.bodies.append(body)
            reply = json.dumps({"errors": False, "items": []}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(reply)))
            self.end_headers()
            self.wfile.write(reply)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


@pytest.fixture()
def fake_es():
    fake = FakeES()
    srv, url = _serve_es(fake)
    yield fake, url
    srv.shutdown()


def test_push_bulk_http_posts_reference_wire_format(spark, fake_es):
    fake, url = fake_es
    df = _frame(spark, [("a", "ann", 1.5, True, False),
                        ("b", "bob", 2.0, False, False),
                        ("c", None, None, None, True)])
    push_bulk_http(df, "couchwarehouse", url, deleted_col="deleted")
    acts = fake.actions()
    index_meta = [a["index"] for a in acts if "index" in a]
    deletes = [a["delete"] for a in acts if "delete" in a]
    sources = [a for a in acts if "index" not in a and "delete" not in a]
    assert {m["_id"] for m in index_meta} == {"a", "b"}
    assert all(m["_index"] == "couchwarehouse" for m in index_meta)
    assert [d["_id"] for d in deletes] == ["c"]
    assert len(sources) == len(index_meta)  # one source line per index action
    assert all("deleted" not in s for s in sources)  # control col stripped


def test_push_bulk_http_chunks_requests(spark, fake_es):
    fake, url = fake_es
    df = _frame(spark, [(f"d{i}", f"n{i}", float(i), True, False)
                        for i in range(10)]).coalesce(1)
    push_bulk_http(df, "cw", url, deleted_col="deleted", chunk_actions=4)
    assert len(fake.bodies) == 3  # 4 + 4 + 2 actions from one partition
    assert len([a for a in fake.actions() if "index" in a]) == 10


def test_push_bulk_http_raises_on_es_errors(spark):
    fake = FakeES()

    class RejectingHandler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            self.rfile.read(n)
            reply = json.dumps({
                "errors": True,
                "items": [{"index": {"_id": "a", "status": 400}}],
            }).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(reply)))
            self.end_headers()
            self.wfile.write(reply)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), RejectingHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    df = _frame(spark, [("a", "ann", 1.5, True, False)])
    with pytest.raises(Exception, match="bulk rejected|ES bulk"):
        push_bulk_http(df, "cw", url)
    srv.shutdown()


def test_cli_sqlite_egress(spark, tmp_path, capsys):
    """--sqlite lands every warehouse table in a queryable SQLite
    file with a checkpoint row (reference default databaseType)."""
    import random
    import sqlite3

    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    rng = random.Random(5)
    feed = write_feed(
        str(tmp_path / "feed"),
        [envelope(i + 1, order_doc(i, rng)) for i in range(7)],
    )
    out = str(tmp_path / "egress.sqlite")
    rc = main([
        "--feed", feed, "--database", "clisl",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--sqlite", out, "--quiet",
    ])
    assert rc == 0
    con = sqlite3.connect(out)
    assert con.execute('SELECT count(*) FROM "clisl"').fetchone()[0] == 7
    seq = con.execute(
        f'SELECT seq FROM "{CHECKPOINT_TABLE}" WHERE tablename = ?', ("clisl",)
    ).fetchone()[0]
    assert seq not in (None, "0")
    con.close()


def test_cdc_payload_incremental_sqlite_follow(spark, tmp_path):
    """Incremental follow: apply ONLY the snapshot_diff delta to the
    sqlite sink and land exactly the full new state — the 0.1%-churn
    path that never re-exports the table."""
    from couchwarehouse_spark.operators.upsert import (
        DELETED_COL,
        cdc_payload,
        snapshot_diff,
    )

    old = spark.sql(
        "SELECT * FROM VALUES ('a', 1, 'ann'), ('b', 1, 'bob'), ('c', 1, 'cal') "
        "AS t(id, _cw_seq, name)"
    )
    new = spark.sql(
        "SELECT * FROM VALUES ('a', 2, 'ann2'), ('c', 1, 'cal'), ('d', 1, 'dee') "
        "AS t(id, _cw_seq, name)"
    )
    sink = DialectSink(sqlite3.connect(str(tmp_path / "follow.sqlite")), "sqlite")
    schema = {"id": "string", "name": "string"}
    sink.create_table("t", schema)
    sink.insert_bulk("t", old, schema)  # initial full export

    diff = snapshot_diff(old, new)
    payload = cdc_payload(diff, new)
    n = sink.insert_bulk("t", payload, schema, deleted_col=DELETED_COL)
    assert n == 3  # a updated, b deleted, d inserted — c never shipped
    rows = dict(sink.con.execute('SELECT id, name FROM "t"').fetchall())
    assert rows == {"a": "ann2", "c": "cal", "d": "dee"}
    sink.con.close()


def test_sqlite_follower_mirrors_warehouse_per_batch(spark, tmp_path):
    """Continuous sync: a follower registered on the Warehouse mirrors
    every merged batch into SQLite — amendments win, tombstones
    delete, delete-then-recreate resolves to the recreate, and the
    sqlite table ends exactly equal to the warehouse table."""
    import random
    import sqlite3

    from couchwarehouse_spark.sinks.sqlite import sqlite_follower
    from couchwarehouse_spark.warehouse import Warehouse

    from .fixtures import envelope, order_doc, write_feed

    rng = random.Random(13)
    docs = {i: order_doc(i, rng) for i in range(6)}
    out = str(tmp_path / "mirror.sqlite")
    wh = Warehouse(spark, str(tmp_path / "wh"), "fol", verbose=False,
                   followers=[sqlite_follower(out)])

    # Batch 1: 6 inserts.
    feed1 = write_feed(str(tmp_path / "f1"), [
        envelope(i + 1, docs[i]) for i in range(6)
    ])
    wh.spool(feed1)
    # Batch 2: amend doc0, tombstone doc1, delete-then-recreate doc2.
    amended = dict(docs[0], customerEmail="new@x.com", _rev="2-x")
    recreated = dict(docs[2], customerEmail="back@x.com", _rev="3-x")
    feed2 = write_feed(str(tmp_path / "f2"), [
        envelope(10, amended),
        envelope(11, None, doc_id=docs[1]["_id"], deleted=True),
        envelope(12, None, doc_id=docs[2]["_id"], deleted=True),
        envelope(13, recreated),
    ])
    wh.spool(feed2)

    wh_rows = {
        r["id"]: r["customerEmail"]
        for r in wh.table().select("id", "customerEmail").collect()
    }
    con = sqlite3.connect(out)
    sl_rows = dict(con.execute('SELECT id, customerEmail FROM "fol"'))
    con.close()
    assert sl_rows == wh_rows
    assert len(sl_rows) == 5  # 6 - tombstoned doc1
    assert sl_rows[docs[0]["_id"]] == "new@x.com"
    assert sl_rows[docs[2]["_id"]] == "back@x.com"


def test_es_follower_mirrors_batches_over_http(spark, tmp_path, fake_es):
    """The ES follower posts index actions for merged docs and delete
    actions for tombstones, per micro-batch, to a live endpoint."""
    import random

    from couchwarehouse_spark.sinks.elasticsearch import es_follower
    from couchwarehouse_spark.warehouse import Warehouse

    from .fixtures import envelope, order_doc, write_feed

    fake, url = fake_es
    rng = random.Random(17)
    docs = [order_doc(i, rng) for i in range(4)]
    wh = Warehouse(spark, str(tmp_path / "wh"), "esf", verbose=False,
                   followers=[es_follower(url)])
    wh.spool(write_feed(str(tmp_path / "f1"),
                        [envelope(i + 1, d) for i, d in enumerate(docs)]))
    wh.spool(write_feed(str(tmp_path / "f2"), [
        envelope(9, None, doc_id=docs[0]["_id"], deleted=True),
    ]))
    acts = fake.actions()
    indexed = {a["index"]["_id"] for a in acts if "index" in a}
    deleted = [a["delete"]["_id"] for a in acts if "delete" in a]
    assert indexed == {d["_id"] for d in docs}
    assert deleted == [docs[0]["_id"]]
    assert all(
        a["index"]["_index"] == "couchwarehouse" for a in acts if "index" in a
    )


def test_cli_es_egress_bulk_indexes_tables(spark, tmp_path, fake_es):
    """--es bulk-indexes the merged state into a live endpoint (the
    reference's elasticsearch databaseType)."""
    import random

    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    fake, url = fake_es
    rng = random.Random(23)
    feed = write_feed(
        str(tmp_path / "feed"),
        [envelope(i + 1, order_doc(i, rng)) for i in range(5)],
    )
    rc = main([
        "--feed", feed, "--database", "cles",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--es", url, "--quiet",
    ])
    assert rc == 0
    acts = fake.actions()
    indexed = [a["index"] for a in acts if "index" in a]
    assert len(indexed) == 5
    assert all(m["_index"] == "couchwarehouse" for m in indexed)


def test_cli_es_egress_propagates_feed_tombstones(spark, tmp_path, fake_es):
    """One-shot --es must also emit delete actions for tombstoned ids
    so a deleted document never lingers searchable in the index."""
    import random

    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    fake, url = fake_es
    rng = random.Random(29)
    docs = [order_doc(i, rng) for i in range(4)]
    envs = [envelope(i + 1, d) for i, d in enumerate(docs)]
    envs.append(envelope(9, None, doc_id=docs[1]["_id"], deleted=True))
    feed = write_feed(str(tmp_path / "feed"), envs)
    rc = main([
        "--feed", feed, "--database", "clesd",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--es", url, "--quiet",
    ])
    assert rc == 0
    acts = fake.actions()
    indexed = {a["index"]["_id"] for a in acts if "index" in a}
    deleted = [a["delete"]["_id"] for a in acts if "delete" in a]
    assert docs[1]["_id"] not in indexed  # tombstoned doc not re-indexed
    assert deleted == [docs[1]["_id"]]


def test_cli_es_egress_delete_then_recreate_stays_indexed(spark, tmp_path, fake_es):
    """A doc deleted then recreated at a later seq (a valid CouchDB
    history) is live in the warehouse — the one-shot --es egress must
    NOT emit a trailing delete for it, or ES silently diverges from
    the warehouse. Only ids whose LATEST envelope is a deletion may
    produce delete actions."""
    import random

    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    fake, url = fake_es
    rng = random.Random(31)
    docs = [order_doc(i, rng) for i in range(3)]
    envs = [envelope(i + 1, d) for i, d in enumerate(docs)]
    # doc0: delete at seq 4, recreate at seq 5 → live.
    envs.append(envelope(4, None, doc_id=docs[0]["_id"], deleted=True))
    recreated = dict(docs[0], _rev=f"3-{rng.getrandbits(64):016x}")
    envs.append(envelope(5, recreated))
    # doc2: deleted at seq 6 and never recreated → gone.
    envs.append(envelope(6, None, doc_id=docs[2]["_id"], deleted=True))
    feed = write_feed(str(tmp_path / "feed"), envs)
    rc = main([
        "--feed", feed, "--database", "clesr",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--es", url, "--quiet",
    ])
    assert rc == 0
    acts = fake.actions()
    indexed = {a["index"]["_id"] for a in acts if "index" in a}
    deleted = {a["delete"]["_id"] for a in acts if "delete" in a}
    assert docs[0]["_id"] in indexed  # recreated doc indexed...
    assert docs[0]["_id"] not in deleted  # ...and never purged
    assert deleted == {docs[2]["_id"]}


def test_cli_sqlite_egress_deletes_tombstoned_rows(spark, tmp_path):
    """Re-running one-shot --sqlite against an existing file after a
    deletion must remove the stale row (parity with the reference's
    per-change DELETE, lib/sqlite.js:95-98) — while a delete-then-
    recreate id stays present."""
    import random
    import sqlite3

    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    rng = random.Random(37)
    docs = [order_doc(i, rng) for i in range(4)]
    out = str(tmp_path / "egress.sqlite")
    wh_dir = str(tmp_path / "wh")
    feed1 = write_feed(
        str(tmp_path / "feed1"), [envelope(i + 1, d) for i, d in enumerate(docs)]
    )
    assert main(["--feed", feed1, "--database", "clisd",
                 "--warehouse-dir", wh_dir, "--sqlite", out, "--quiet"]) == 0
    con = sqlite3.connect(out)
    assert con.execute('SELECT count(*) FROM "clisd"').fetchone()[0] == 4
    con.close()
    # Second run over an extended feed: doc1 deleted; doc0 deleted
    # then recreated (must survive).
    envs = [envelope(i + 1, d) for i, d in enumerate(docs)]
    envs.append(envelope(5, None, doc_id=docs[1]["_id"], deleted=True))
    envs.append(envelope(6, None, doc_id=docs[0]["_id"], deleted=True))
    envs.append(envelope(7, dict(docs[0], _rev=f"4-{rng.getrandbits(64):016x}")))
    feed2 = write_feed(str(tmp_path / "feed2"), envs)
    assert main(["--feed", feed2, "--database", "clisd",
                 "--warehouse-dir", str(tmp_path / "wh2"),
                 "--sqlite", out, "--quiet"]) == 0
    con = sqlite3.connect(out)
    ids = {r[0] for r in con.execute('SELECT id FROM "clisd"')}
    con.close()
    assert docs[1]["_id"] not in ids  # stale row removed
    assert docs[0]["_id"] in ids  # recreate survives
    assert len(ids) == 3

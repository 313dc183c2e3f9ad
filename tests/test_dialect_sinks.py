"""SQLite/PG/MySQL dialect-exact statement generation + fake-server
round-trips (S18; reference lib/sqlite.js, lib/postgresql.js,
lib/mysql.js).

The byte-exact assertions below are copied from the statements the
reference actually issues — generateCreateTableSQL, insertBulk's
upsert/delete, and the checkpoint protocol — so any drift in
``sinks.dialects`` fails loudly. The FakeDBAPI connection records
every (sql, params) pair AND emulates upsert/delete-by-id semantics,
so the DialectSink round-trip is verified on final state too.
"""

from __future__ import annotations

import re

import pytest

from couchwarehouse_spark.sinks.dialects import (
    CHECKPOINT_TABLE,
    DialectSink,
    checkpoint_ddl,
    create_table_sql,
    delete_sql,
    get_checkpoint_sql,
    upsert_sql,
    write_checkpoint_sql,
)

SCHEMA = {"id": "string", "name": "string", "price": "number", "paid": "boolean"}
FIELDS = list(SCHEMA)


# ---------------------------------------------------------------- byte-exact
def test_pg_create_table_sql_byte_exact():
    """reference lib/postgresql.js:28-57: TEXT/REAL/BOOLEAN map,
    ``id`` column carries PRIMARY KEY, reset prepends DROP."""
    assert create_table_sql("postgresql", "mydb", SCHEMA) == [
        "CREATE TABLE IF NOT EXISTS mydb "
        "(id TEXT PRIMARY KEY, name TEXT, price REAL, paid BOOLEAN)"
    ]
    assert create_table_sql("postgresql", "mydb", SCHEMA, reset=True)[0] == (
        "DROP TABLE IF EXISTS mydb"
    )


def test_mysql_create_table_sql_byte_exact():
    """reference lib/mysql.js:44-75: TEXT/FLOAT/TINYINT map and the
    VARCHAR(255) id key (MySQL can't key on TEXT)."""
    assert create_table_sql("mysql", "mydb", SCHEMA) == [
        "CREATE TABLE IF NOT EXISTS mydb "
        "(id VARCHAR(255) PRIMARY KEY, name TEXT, price FLOAT, paid TINYINT)"
    ]


def test_sqlite_create_table_sql_byte_exact():
    """reference lib/sqlite.js:23-52: quoted identifiers,
    TEXT/REAL/INTEGER map, ``"id"`` carries PRIMARY KEY."""
    assert create_table_sql("sqlite", "mydb", SCHEMA, reset=True) == [
        'DROP TABLE IF EXISTS "mydb"',
        'CREATE TABLE IF NOT EXISTS "mydb" '
        '("id" TEXT PRIMARY KEY, "name" TEXT, "price" REAL, "paid" INTEGER)',
    ]


def test_sqlite_upsert_sql_byte_exact():
    """reference lib/sqlite.js:82."""
    assert upsert_sql("sqlite", "mydb", FIELDS) == (
        'REPLACE INTO "mydb" ("id", "name", "price", "paid") VALUES (?, ?, ?, ?)'
    )


def test_pg_upsert_sql_byte_exact():
    """reference lib/postgresql.js:91 — including the trailing
    ``$n+1`` id parameter for the DO UPDATE predicate."""
    assert upsert_sql("postgresql", "mydb", FIELDS) == (
        "INSERT INTO mydb (id,name,price,paid) VALUES ($1,$2,$3,$4) "
        "ON CONFLICT (id) DO UPDATE SET id = $1,name = $2,price = $3,paid = $4 "
        "WHERE mydb.id = $5"
    )


def test_mysql_upsert_sql_byte_exact():
    """reference lib/mysql.js:104."""
    assert upsert_sql("mysql", "mydb", FIELDS) == (
        "REPLACE INTO mydb (id,name,price,paid) VALUES (?,?,?,?)"
    )


def test_delete_sql_byte_exact():
    """reference lib/postgresql.js:92 / lib/mysql.js:105."""
    assert delete_sql("postgresql", "mydb") == "DELETE FROM mydb WHERE id = $1"
    assert delete_sql("mysql", "mydb") == "DELETE FROM mydb WHERE id = ?"
    assert delete_sql("sqlite", "mydb") == 'DELETE FROM "mydb" WHERE "id" = ?'


def test_checkpoint_statements_byte_exact():
    """reference lib/postgresql.js:24,137,141 / lib/mysql.js:42,150,156."""
    for dialect in ("postgresql", "mysql"):
        assert checkpoint_ddl(dialect) == (
            f"CREATE TABLE IF NOT EXISTS {CHECKPOINT_TABLE} "
            "(id SERIAL PRIMARY KEY, tablename TEXT, seq TEXT)"
        )
    assert write_checkpoint_sql("postgresql") == (
        f"INSERT INTO {CHECKPOINT_TABLE} (tablename,seq) VALUES ($1,$2)"
    )
    assert write_checkpoint_sql("mysql") == (
        f"INSERT INTO {CHECKPOINT_TABLE} (tablename,seq) VALUES (?,?)"
    )
    assert get_checkpoint_sql("postgresql") == (
        f"SELECT seq FROM {CHECKPOINT_TABLE} WHERE tablename=$1 "
        "ORDER BY id DESC LIMIT 1"
    )
    assert get_checkpoint_sql("mysql") == (
        f"SELECT seq FROM {CHECKPOINT_TABLE} WHERE tablename=? "
        "ORDER BY id DESC LIMIT 1"
    )
    # reference lib/sqlite.js:11,138-170: no surrogate key — newest
    # row by rowid, plus a write timestamp.
    assert checkpoint_ddl("sqlite") == (
        f'CREATE TABLE IF NOT EXISTS "{CHECKPOINT_TABLE}" (tablename TEXT, '
        "seq TEXT, timestamp INTEGER DEFAULT (strftime('%s','now')))"
    )
    assert write_checkpoint_sql("sqlite") == (
        f'INSERT INTO "{CHECKPOINT_TABLE}" (tablename, seq) VALUES (?, ?)'
    )
    assert get_checkpoint_sql("sqlite") == (
        f'SELECT seq FROM "{CHECKPOINT_TABLE}" WHERE tablename = ? '
        "ORDER BY rowid DESC LIMIT 1"
    )


def test_unknown_dialect_rejected():
    with pytest.raises(ValueError, match="unknown dialect"):
        DialectSink(FakeDBAPI(), "oracle")


# ------------------------------------------------------------- fake server
class FakeDBAPI:
    """Recorded-statement DBAPI stand-in emulating just enough server
    behaviour to round-trip: keyed tables with upsert/delete-by-id
    (both REPLACE INTO and INSERT..ON CONFLICT resolve to 'last write
    per id wins' — exactly why the reference chose them), and an
    append-only checkpoint table with newest-wins reads. Quoted
    identifiers (SQLite) parse like bare ones."""

    def __init__(self):
        self.statements: list[tuple[str, tuple]] = []
        self.tables: dict[str, dict[str, tuple]] = {}
        self.checkpoints: list[tuple[str, str]] = []
        self._result: list[tuple] = []

    def execute(self, sql: str, params: tuple = ()):
        self.statements.append((sql, tuple(params)))
        sql = sql.replace('"', "")
        if sql.startswith("CREATE TABLE IF NOT EXISTS couchwarehouse_check"):
            pass
        elif sql.startswith(("CREATE TABLE IF NOT EXISTS", "DROP TABLE")):
            name = re.search(r"TABLE (?:IF NOT EXISTS )?(?:IF EXISTS )?(\w+)", sql).group(1)
            if sql.startswith("DROP"):
                self.tables.pop(name, None)
            else:
                self.tables.setdefault(name, {})
        elif sql.startswith(("INSERT INTO couchwarehouse_check",)):
            self.checkpoints.append(tuple(params))
        elif sql.startswith(("REPLACE INTO", "INSERT INTO")):
            table = sql.split()[2]
            n_fields = sql.split("VALUES")[0].count(",") + 1
            row = tuple(params[:n_fields])
            self.tables[table][row[0]] = row  # id is field 0
        elif sql.startswith("DELETE FROM"):
            self.tables[sql.split()[2]].pop(params[0], None)
        elif sql.startswith("SELECT seq FROM"):
            matches = [seq for (t, seq) in self.checkpoints if t == params[0]]
            self._result = [(matches[-1],)] if matches else []
            return self
        return self

    def fetchall(self):
        return self._result

    def commit(self):
        pass


@pytest.mark.parametrize("dialect", ["postgresql", "mysql", "sqlite"])
def test_dialect_sink_round_trip(spark, dialect):
    """Full DialectSink round-trip against the fake server: DDL, a
    batch of upserts including a re-upsert and a delete, then the
    checkpoint protocol — final state and recorded statements both
    checked."""
    fake = FakeDBAPI()
    sink = DialectSink(fake, dialect)
    sink.create_table("mydb", SCHEMA)
    df = spark.sql(
        "SELECT * FROM VALUES "
        "('a', 'ann', 1.5, true, false), "
        "('b', 'bob', 2.0, false, false), "
        "('a', 'ann2', 9.5, true, false), "  # re-upsert: last write wins
        "('b', NULL, CAST(NULL AS DOUBLE), NULL, true) "  # tombstone for b
        "AS t(id, name, price, paid, _del)"
    ).coalesce(1)  # single partition => toLocalIterator preserves order
    n = sink.insert_bulk("mydb", df, SCHEMA, deleted_col="_del")
    assert n == 4
    assert fake.tables["mydb"] == {"a": ("a", "ann2", 9.5, True)}
    if dialect == "sqlite":  # reference lib/sqlite.js: booleans bind as 0/1
        assert type(fake.tables["mydb"]["a"][3]) is int
    sink.write_checkpoint("mydb", "42-seq")
    sink.write_checkpoint("mydb", "43-seq")
    assert sink.read_checkpoint("mydb") == "43-seq"  # newest row wins
    assert sink.read_checkpoint("other") is None
    # Every statement the server saw is one of the reference's.
    expected = {
        checkpoint_ddl(dialect),
        *create_table_sql(dialect, "mydb", SCHEMA),
        upsert_sql(dialect, "mydb", FIELDS),
        delete_sql(dialect, "mydb"),
        write_checkpoint_sql(dialect),
        get_checkpoint_sql(dialect),
    }
    assert {sql for sql, _ in fake.statements} == expected
    # PG binds the id twice (values + conflict predicate); MySQL once.
    up = upsert_sql(dialect, "mydb", FIELDS)
    upserts = [p for sql, p in fake.statements if sql == up]
    assert len(upserts) == 3
    want_len = len(FIELDS) + (1 if dialect == "postgresql" else 0)
    assert all(len(p) == want_len for p in upserts)

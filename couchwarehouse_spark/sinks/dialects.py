"""Relational follower sink: the reference's SQLite, PostgreSQL and
MySQL targets as ONE egress protocol over a per-dialect statement
table (R10/R14, S18).

The reference ships a whole driver per backend whose real content is
a handful of SQL statements — DDL from the discovered schema, an
upsert, a delete, and the ``couchwarehouse_checkpoints`` protocol
(reference lib/sqlite.js:11-52,60-110,138-170; lib/postgresql.js:
24-57,60-126,131-148; lib/mysql.js:42-75,78-141,146-162). This module
generates those statements byte-for-byte from ``DIALECTS`` and drives
them through any DBAPI-style connection (``execute(sql, params)``,
``commit()``, ``rollback()``): a stdlib ``sqlite3`` connection for the
default target (``sinks.sqlite.sqlite_follower``, the CLI's
``--sqlite``), a psycopg/mysql connection where a server exists, or a
recorded-statement fake in tests.

Dialect deltas, straight from the reference:

===========  =====================  =====================  ====================
aspect       sqlite                 postgresql             mysql
===========  =====================  =====================  ====================
types        string→TEXT,           string→TEXT,           string→TEXT,
             number→REAL,           number→REAL,           number→FLOAT,
             boolean→INTEGER        boolean→BOOLEAN        boolean→TINYINT
identifiers  ``"quoted"``           bare                   bare
id column    ``"id" TEXT PRIMARY    ``id TEXT PRIMARY      ``id VARCHAR(255)
             KEY``                  KEY``                  PRIMARY KEY`` (TEXT
                                                           can't be a MySQL PK)
upsert       ``REPLACE INTO ...``   ``INSERT ... ON        ``REPLACE INTO ...``
                                    CONFLICT (id) DO
                                    UPDATE SET ...``
params       ``?``                  ``$1``..``$n``         ``?``
checkpoints  rowid order +          ``id SERIAL`` order    ``id SERIAL`` order
             ``timestamp`` column
values       booleans→0/1, dates→   as bound               as bound
             ISO text, leftover
             nested values→JSON
===========  =====================  =====================  ====================

Scale note: like the reference, statement execution is row-at-a-time
on the driver via ``toLocalIterator`` — one partition resident at a
time. That is the right topology for a single-connection relational
follower (SQLite is a single-writer embedded file anyway); the
PARALLEL egress lane at 100 TB is ``sinks.jdbc`` (partitioned
``df.write.jdbc``), with this module supplying the dialect DDL/upsert
semantics the staging table merge needs.
"""

from __future__ import annotations

import datetime
import decimal
import json
from collections.abc import Callable, Mapping
from contextlib import contextmanager
from typing import Any, NamedTuple

from pyspark.sql import DataFrame

CHECKPOINT_TABLE = "couchwarehouse_checkpoints"


def _sqlite_value(v: Any) -> Any:
    """reference lib/sqlite.js:13-21 ``couchTypeToSQL``: booleans as
    0/1; anything non-scalar that escaped the flatten lands as text."""
    if isinstance(v, bool):
        return int(v)
    if v is None or isinstance(v, (str, int, float, bytes)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    try:
        return json.dumps(v)
    except TypeError:
        return str(v)


class Dialect(NamedTuple):
    types: Mapping[str, str]  # logical type -> column type (default TEXT)
    quote: str  # identifier quote character ("" = bare identifiers)
    sep: str  # separator of the upsert's field/marker lists
    numbered: bool  # $1..$n parameter markers instead of ?
    key_type: str | None  # id column type overriding ``types``
    upsert: str  # template over {table} {names} {marks} {pairs} {rekey}
    rebinds_key: bool  # upsert binds the id again as its last parameter
    checkpoint_ddl: str
    write_checkpoint: str
    get_checkpoint: str
    coerce: Callable[[Any], Any]  # per-value binding conversion


DIALECTS: dict[str, Dialect] = {
    # reference lib/sqlite.js:11-52, 82-83, 138-170
    "sqlite": Dialect(
        types={"string": "TEXT", "number": "REAL", "boolean": "INTEGER"},
        quote='"',
        sep=", ",
        numbered=False,
        key_type=None,
        upsert="REPLACE INTO {table} ({names}) VALUES ({marks})",
        rebinds_key=False,
        checkpoint_ddl=(
            f'CREATE TABLE IF NOT EXISTS "{CHECKPOINT_TABLE}" '
            "(tablename TEXT, seq TEXT, timestamp INTEGER DEFAULT (strftime('%s','now')))"
        ),
        write_checkpoint=(
            f'INSERT INTO "{CHECKPOINT_TABLE}" (tablename, seq) VALUES (?, ?)'
        ),
        get_checkpoint=(
            f'SELECT seq FROM "{CHECKPOINT_TABLE}" WHERE tablename = ? '
            "ORDER BY rowid DESC LIMIT 1"
        ),
        coerce=_sqlite_value,
    ),
    # reference lib/postgresql.js:24,32-36,82-92,137,141 — the upsert
    # binds the id AGAIN as the final parameter for the conflict-update
    # predicate, so values = row values + [id]
    "postgresql": Dialect(
        types={"string": "TEXT", "number": "REAL", "boolean": "BOOLEAN"},
        quote="",
        sep=",",
        numbered=True,
        key_type=None,
        upsert=(
            "INSERT INTO {table} ({names}) VALUES ({marks}) "
            "ON CONFLICT (id) DO UPDATE SET {pairs} WHERE {table}.id = {rekey}"
        ),
        rebinds_key=True,
        checkpoint_ddl=(
            f"CREATE TABLE IF NOT EXISTS {CHECKPOINT_TABLE} "
            "(id SERIAL PRIMARY KEY, tablename TEXT, seq TEXT)"
        ),
        write_checkpoint=f"INSERT INTO {CHECKPOINT_TABLE} (tablename,seq) VALUES ($1,$2)",
        get_checkpoint=(
            f"SELECT seq FROM {CHECKPOINT_TABLE} WHERE tablename=$1 "
            "ORDER BY id DESC LIMIT 1"
        ),
        coerce=lambda v: v,
    ),
    # reference lib/mysql.js:42,47-51,56-61,96-105,150,156
    "mysql": Dialect(
        types={"string": "TEXT", "number": "FLOAT", "boolean": "TINYINT"},
        quote="",
        sep=",",
        numbered=False,
        key_type="VARCHAR(255)",
        upsert="REPLACE INTO {table} ({names}) VALUES ({marks})",
        rebinds_key=False,
        checkpoint_ddl=(
            f"CREATE TABLE IF NOT EXISTS {CHECKPOINT_TABLE} "
            "(id SERIAL PRIMARY KEY, tablename TEXT, seq TEXT)"
        ),
        write_checkpoint=f"INSERT INTO {CHECKPOINT_TABLE} (tablename,seq) VALUES (?,?)",
        get_checkpoint=(
            f"SELECT seq FROM {CHECKPOINT_TABLE} WHERE tablename=? "
            "ORDER BY id DESC LIMIT 1"
        ),
        coerce=lambda v: v,
    ),
}


def _quote(d: Dialect, name: str) -> str:
    return f"{d.quote}{name}{d.quote}"


def _marker(d: Dialect, i: int) -> str:
    return f"${i}" if d.numbered else "?"


def create_table_sql(
    dialect: str, table: str, schema: Mapping[str, str], reset: bool = False
) -> list[str]:
    """The reference's ``generateCreateTableSQL``, dialect-exact: one
    column per discovered field in schema order, ``id`` as the primary
    key. ``reset`` prepends the DROP."""
    d = DIALECTS[dialect]
    cols = []
    for name, logical in schema.items():
        col_type = d.types.get(logical, "TEXT")
        if name == "id":
            col_type = f"{d.key_type or col_type} PRIMARY KEY"
        cols.append(f"{_quote(d, name)} {col_type}")
    table = _quote(d, table)
    stmts = []
    if reset:
        stmts.append(f"DROP TABLE IF EXISTS {table}")
    stmts.append(f"CREATE TABLE IF NOT EXISTS {table} ({', '.join(cols)})")
    return stmts


def upsert_sql(dialect: str, table: str, fields: list[str]) -> str:
    """The per-row upsert statement, byte-exact vs the reference."""
    d = DIALECTS[dialect]
    return d.upsert.format(
        table=_quote(d, table),
        names=d.sep.join(_quote(d, f) for f in fields),
        marks=d.sep.join(_marker(d, i + 1) for i in range(len(fields))),
        pairs=d.sep.join(
            f"{_quote(d, f)} = {_marker(d, i + 1)}" for i, f in enumerate(fields)
        ),
        rekey=_marker(d, len(fields) + 1),
    )


def delete_sql(dialect: str, table: str) -> str:
    """lib/sqlite.js:83 / lib/postgresql.js:92 / lib/mysql.js:105."""
    d = DIALECTS[dialect]
    return f"DELETE FROM {_quote(d, table)} WHERE {_quote(d, 'id')} = {_marker(d, 1)}"


def checkpoint_ddl(dialect: str) -> str:
    return DIALECTS[dialect].checkpoint_ddl


def write_checkpoint_sql(dialect: str) -> str:
    return DIALECTS[dialect].write_checkpoint


def get_checkpoint_sql(dialect: str) -> str:
    """Newest row wins."""
    return DIALECTS[dialect].get_checkpoint


class DialectSink:
    """Drive one dialect's statements through a DBAPI-style connection:
    the reference's per-backend drivers as one class. Usable
    standalone or as a ``foreachBatch`` target; the caller owns (and
    closes) the connection."""

    def __init__(self, con: Any, dialect: str):
        if dialect not in DIALECTS:
            raise ValueError(f"unknown dialect {dialect!r}")
        self.con = con
        self.dialect = dialect
        with self._transaction():
            con.execute(checkpoint_ddl(dialect))

    @contextmanager
    def _transaction(self):
        try:
            yield
        except BaseException:
            self.con.rollback()
            raise
        self.con.commit()

    # -- DDL (R10) ----------------------------------------------------
    def create_table(
        self, table: str, schema: Mapping[str, str], reset: bool = False
    ) -> None:
        with self._transaction():
            for stmt in create_table_sql(self.dialect, table, schema, reset=reset):
                self.con.execute(stmt)

    # -- bulk upsert (reference insertBulk) ---------------------------
    def insert_bulk(
        self,
        table: str,
        df: DataFrame,
        schema: Mapping[str, str],
        deleted_col: str | None = None,
    ) -> int:
        """Apply a (flattened, conformed) DataFrame as upserts; rows
        with ``deleted_col`` true become DELETE-by-id. Missing schema
        fields bind as NULL (lib/sqlite.js:90-92). One transaction per
        call = one changes batch, like the reference. Returns rows
        applied."""
        d = DIALECTS[self.dialect]
        fields = list(schema)
        up = upsert_sql(self.dialect, table, fields)
        de = delete_sql(self.dialect, table)
        cols = [c for c in fields if c in df.columns]
        select = cols + ([deleted_col] if deleted_col else [])
        n = 0
        with self._transaction():
            for row in df.select(*select).toLocalIterator():
                r = row.asDict()
                if deleted_col and r.get(deleted_col):
                    self.con.execute(de, (r.get("id"),))
                else:
                    values = [d.coerce(r.get(f)) for f in fields]
                    if d.rebinds_key:
                        values.append(r.get("id"))
                    self.con.execute(up, tuple(values))
                n += 1
        return n

    # -- checkpoints (R14) --------------------------------------------
    def write_checkpoint(self, tablename: str, seq: str) -> None:
        with self._transaction():
            self.con.execute(write_checkpoint_sql(self.dialect), (tablename, str(seq)))

    def read_checkpoint(self, tablename: str) -> str | None:
        rows = self.con.execute(
            get_checkpoint_sql(self.dialect), (tablename,)
        ).fetchall()
        return rows[0][0] if rows else None

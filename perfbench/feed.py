"""Seeded CouchDB ``_changes`` feed generator with an expected-state model.

Every envelope has the reference wire shape
``{seq: "N-x", id, changes: [{rev}], deleted?, doc}``. Docs carry
``_id``/``_rev``, a ``type`` field (``order``, ``product``, ``user``),
nested objects and arrays. A few ``_design/`` docs and tombstones ride
along. The same seed yields byte-identical lines.

:class:`Feed` applies every change it emits to a :class:`Model`, which
holds what a warehouse split on ``type`` must contain afterwards:

* latest-wins by numeric seq (line order in a file does not matter);
* tombstones delete by id, and a later change re-creates the doc;
* each type's columns are frozen from its lowest-seq doc: fields that
  doc lacks are dropped, fields later docs lack read as NULL;
* ``_design/`` docs never reach a table;
* nested objects flatten to ``parent_child`` columns, arrays become
  compact JSON text, numbers become doubles.

The model assumes the feed is applied in seq order across batches and
that each type's lowest-seq doc arrives in the first batch carrying
that type — true for one spool, and for a preload followed by pages.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from collections.abc import Iterable, Mapping

TYPES = ("order", "product", "user")

# Bulk feeds: shares of envelopes that amend or tombstone an earlier id,
# and the number of ``_design/`` docs among them.
BULK_AMEND = 0.05
BULK_TOMB = 0.03
BULK_DESIGN = 4
# Feed pages: shares of updates and of new ids; the rest are tombstones.
PAGE_UPDATE = 0.7
PAGE_NEW = 0.2
# Skew of the read mix's id popularity.
ZIPF_S = 1.1

_STREETS = ("Oak St", "Mill Rd", "High St", "Elm Ave", "Park Ln", "Quay Rd")
_TOWNS = ("Leeds", "York", "Bath", "Derby", "Ely", "Wells", "Truro", "Ripon")
_STATUS = ("new", "paid", "shipped", "returned")
_CURRENCY = ("USD", "EUR", "GBP")
_COUNTRIES = ("UK", "FR", "DE", "US", "JP")
_TAGS = ("gift", "bulk", "rush", "fragile", "promo", "repeat")
_SIZES = ("XS", "S", "M", "L", "XL")
_FIRST = ("Ann", "Bob", "Cy", "Di", "Ed", "Flo", "Gus", "Hal", "Ivy")


def flatten(doc: Mapping, prefix: str = "") -> dict:
    """The warehouse's flatten rule (reference lib/flatten.js): ``_id``
    and ``_rev`` lose the underscore at top level, objects recurse with
    ``parent_child`` names, arrays become compact JSON text whose
    objects list their keys in sorted order (as Spark's inferred
    structs do)."""
    out: dict = {}
    for k, v in doc.items():
        name = k[1:] if not prefix and k in ("_id", "_rev") else (
            f"{prefix}_{k}" if prefix else k
        )
        if isinstance(v, Mapping):
            out.update(flatten(v, name))
        elif isinstance(v, list):
            out[name] = json.dumps(
                [dict(sorted(x.items())) if isinstance(x, Mapping) else x for x in v],
                separators=(",", ":"),
            )
        elif v is not None:
            out[name] = v
    return out


def canon(value) -> str:
    """One value as comparison text, identical for a model value and the
    same value read back from the warehouse."""
    if value is None:
        return "\\N"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, float)):
        return repr(float(value))
    return str(value)


def canon_row(row: Mapping, columns: Iterable[str]) -> tuple[str, ...]:
    return tuple(canon(row.get(c)) for c in columns)


def table_digest(rows: Iterable[tuple[str, ...]]) -> str:
    """Order-insensitive digest of a set of canonical rows."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


class Model:
    """Expected contents of each per-type table."""

    def __init__(self) -> None:
        self.schemas: dict[str, list[str]] = {}
        self.rows: dict[str, dict[str, dict]] = {t: {} for t in TYPES}
        self.type_of: dict[str, str] = {}

    def upsert(self, doc: Mapping) -> None:
        t = doc["type"]
        flat = flatten(doc)
        if t not in self.schemas:
            self.schemas[t] = sorted(flat)
        cols = self.schemas[t]
        row = {}
        for c in cols:
            v = flat.get(c)
            row[c] = float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v
        self.rows[t][doc["_id"]] = row
        self.type_of[doc["_id"]] = t

    def delete(self, doc_id: str) -> None:
        t = self.type_of.get(doc_id)
        if t is not None:
            self.rows[t].pop(doc_id, None)

    def expected(self, doc_type: str) -> tuple[list[str], list[tuple[str, ...]]]:
        cols = self.schemas.get(doc_type, [])
        return cols, [canon_row(r, cols) for r in self.rows[doc_type].values()]


class Feed:
    """Emits envelope lines in seq order and keeps the model in step."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.seq = 0
        self.model = Model()
        self.created: list[str] = []  # every doc id, oldest first
        self.deleted: set[str] = set()
        self.docs: dict[str, dict] = {}  # current body of each doc id
        self.rev_gen: dict[str, int] = {}
        self.next_id = {t: 0 for t in TYPES}
        self.n_design = 0

    # -- envelopes ---------------------------------------------------------

    def _rev(self, doc_id: str) -> str:
        g = self.rev_gen.get(doc_id, 0) + 1
        self.rev_gen[doc_id] = g
        return f"{g}-{self.rng.getrandbits(64):016x}"

    def _envelope(self, doc_id: str, doc: dict, deleted: bool = False) -> str:
        self.seq += 1
        env = {
            "seq": f"{self.seq}-g1AAAA{self.rng.getrandbits(40):010x}",
            "id": doc_id,
            "changes": [{"rev": doc["_rev"]}],
        }
        if deleted:
            env["deleted"] = True
        env["doc"] = doc
        return json.dumps(env, separators=(",", ":"))

    # -- doc bodies ----------------------------------------------------------

    def _body(self, t: str, doc_id: str) -> dict:
        r = self.rng
        first = t not in self.model.schemas
        if t == "order":
            doc = {
                "type": "order",
                "customerId": f"user:{r.randrange(max(1, self.next_id['user']))}",
                "status": r.choice(_STATUS),
                "currency": r.choice(_CURRENCY),
                "total": round(r.uniform(1, 500), 2),
                "dispatched": r.random() < 0.5,
                "dispatchAddress": {
                    "street": f"{r.randrange(1, 200)} {r.choice(_STREETS)}",
                    "town": r.choice(_TOWNS),
                    "zip": f"{r.randrange(100000):05d}",
                },
                "dispatchCourierRef": f"C{r.getrandbits(32):08x}",
                "basket": [
                    {"productId": f"product:{r.randrange(1000)}", "qty": r.randrange(1, 6)}
                    for _ in range(r.randrange(1, 4))
                ],
                "tags": r.sample(_TAGS, r.randrange(0, 3)),
            }
            if not first and r.random() < 0.1:
                del doc["dispatchCourierRef"]  # read back as NULL
        elif t == "product":
            doc = {
                "type": "product",
                "name": f"{r.choice(_TAGS)}-{r.getrandbits(24):06x}",
                "price": round(r.uniform(0.5, 200), 2),
                "vatrate": r.choice((0.0, 0.05, 0.2)),
                "stock": r.randrange(0, 1000),
                "supplier": {"name": f"S{r.randrange(50)}", "country": r.choice(_COUNTRIES)},
                "sizes": r.sample(_SIZES, r.randrange(1, 4)),
            }
        else:
            doc = {
                "type": "user",
                "name": f"{r.choice(_FIRST)} {r.getrandbits(20):05x}",
                "email": f"u{r.getrandbits(32):08x}@example.com",
                "age": r.randrange(18, 90),
                "verified": r.random() < 0.3,
                "address": {
                    "street": f"{r.randrange(1, 200)} {r.choice(_STREETS)}",
                    "town": r.choice(_TOWNS),
                    "geo": {
                        "lat": round(r.uniform(50, 58), 4),
                        "long": round(r.uniform(-5, 1), 4),
                    },
                },
            }
        if not first and r.random() < 0.1:
            doc["note"] = f"n{r.getrandbits(16)}"  # not in the frozen schema
        return {"_id": doc_id, "_rev": self._rev(doc_id), **doc}

    def _amend(self, doc: dict) -> dict:
        r = self.rng
        new = json.loads(json.dumps(doc))
        if new["type"] == "order":
            new["status"] = r.choice(_STATUS)
            new["dispatched"] = not new["dispatched"]
            new["total"] = round(new["total"] + r.uniform(-5, 5) + 10, 2)
        elif new["type"] == "product":
            new["price"] = round(r.uniform(0.5, 200), 2)
            new["stock"] = r.randrange(0, 1000)
        else:
            new["age"] = new["age"] + 1
            new["verified"] = not new["verified"]
        new["_rev"] = self._rev(doc["_id"])
        return new

    # -- changes -------------------------------------------------------------

    def new_doc(self, t: str) -> str:
        doc_id = f"{t}:{self.next_id[t]}"
        self.next_id[t] += 1
        doc = self._body(t, doc_id)
        self.created.append(doc_id)
        return self._upsert(doc)

    def _upsert(self, doc: dict) -> str:
        self.docs[doc["_id"]] = doc
        self.deleted.discard(doc["_id"])
        line = self._envelope(doc["_id"], doc)
        self.model.upsert(doc)
        return line

    def update(self, doc_id: str) -> str:
        """A new revision; on a deleted id this re-creates the doc."""
        return self._upsert(self._amend(self.docs[doc_id]))

    def tombstone(self, doc_id: str) -> str:
        self.deleted.add(doc_id)
        doc = {"_id": doc_id, "_rev": self._rev(doc_id), "_deleted": True}
        line = self._envelope(doc_id, doc, deleted=True)
        self.model.delete(doc_id)
        return line

    def design_doc(self) -> str:
        name = f"_design/view{self.n_design % 3}"
        self.n_design += 1
        doc = {
            "_id": name,
            "_rev": self._rev(name),
            "language": "javascript",
            "views": {"by_type": {"map": "function(doc){emit(doc.type,null)}"}},
        }
        return self._envelope(name, doc)

    def _live_id(self, skew_newest: bool) -> str | None:
        for _ in range(8):
            u = self.rng.random()
            if skew_newest:
                u = u**3  # most picks land among the newest ids
            i = len(self.created) - 1 - int(u * len(self.created))
            if self.created[i] not in self.deleted:
                return self.created[i]
        return None

    def _type(self) -> str:
        return self.rng.choices(TYPES, weights=(6, 2, 2))[0]

    # -- batches -------------------------------------------------------------

    def bulk(self, n: int) -> list[str]:
        """``n`` envelopes in seq order: mostly new docs of the three
        types, with amendments and tombstones of earlier ids later in
        seq, and ``BULK_DESIGN`` ``_design/`` docs."""
        lines: list[str] = []
        design_at = set(self.rng.sample(range(n), min(BULK_DESIGN, n)))
        for i in range(n):
            u = self.rng.random()
            if i in design_at:
                lines.append(self.design_doc())
            elif self.created and u < BULK_TOMB:
                doc_id = self._live_id(skew_newest=False)
                lines.append(self.tombstone(doc_id) if doc_id else self.new_doc(self._type()))
            elif self.created and u < BULK_TOMB + BULK_AMEND:
                doc_id = self._live_id(skew_newest=False)
                lines.append(self.update(doc_id) if doc_id else self.new_doc(self._type()))
            else:
                lines.append(self.new_doc(self._type()))
        return lines

    def page(self, n: int) -> list[str]:
        """One feed page: ``PAGE_UPDATE`` share of new revisions skewed
        toward the newest ids (some re-create deleted docs), ``PAGE_NEW``
        share of new ids, the rest tombstones. Lines stay in seq order."""
        lines: list[str] = []
        for _ in range(n):
            u = self.rng.random()
            if u < PAGE_UPDATE:
                i = len(self.created) - 1 - int(self.rng.random() ** 3 * len(self.created))
                lines.append(self.update(self.created[i]))
            elif u < PAGE_UPDATE + PAGE_NEW:
                lines.append(self.new_doc(self._type()))
            else:
                doc_id = self._live_id(skew_newest=False)
                lines.append(self.tombstone(doc_id) if doc_id else self.new_doc(self._type()))
        return lines


class Zipf:
    """Seeded Zipf(``ZIPF_S``) picks over a fixed population."""

    def __init__(self, rng: random.Random, population: list[str]):
        self.rng = rng
        self.items = list(population)
        rng.shuffle(self.items)  # popularity is independent of age
        cum, acc = [], 0.0
        for rank in range(1, len(self.items) + 1):
            acc += rank**-ZIPF_S
            cum.append(acc)
        self.cum = cum

    def pick(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.items[min(bisect.bisect_left(self.cum, x), len(self.items) - 1)]


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")

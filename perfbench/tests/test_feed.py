"""Tests of the benchmark's feed generator, model and metric names.

    python3 -m pytest perfbench/tests -q

Pure Python: no SparkSession is started. The model is checked
against an independent replay of the emitted envelopes; the warehouse
itself is checked against the model by every benchmark run.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from feed import BULK_DESIGN, TYPES, Feed, Zipf, canon_row, flatten, table_digest  # noqa: E402


def _seq(line: str) -> int:
    return int(json.loads(line)["seq"].split("-", 1)[0])


def _replay(lines: list[str]) -> dict[str, tuple[list[str], dict[str, tuple]]]:
    """Reference semantics, written out directly: sort by numeric seq,
    drop design docs, freeze each type's columns from its first doc,
    latest change per id wins, tombstones delete."""
    cols: dict[str, list[str]] = {}
    live: dict[str, tuple[str, dict]] = {}
    for env in sorted((json.loads(x) for x in lines), key=lambda e: int(e["seq"].split("-")[0])):
        if env["id"].startswith("_design/"):
            continue
        if env.get("deleted"):
            live.pop(env["id"], None)
            continue
        flat = flatten(env["doc"])
        t = env["doc"]["type"]
        cols.setdefault(t, sorted(flat))
        live[env["id"]] = (t, flat)
    out = {}
    for t in TYPES:
        c = cols.get(t, [])
        out[t] = (c, {i: canon_row(f, c) for i, (tt, f) in live.items() if tt == t})
    return out


def _feed_lines(seed: int) -> tuple[Feed, list[str]]:
    f = Feed(seed)
    lines = f.bulk(3000)
    for _ in range(4):
        lines += f.page(500)
    return f, lines


def test_same_seed_same_bytes():
    a = Feed(7)
    b = Feed(7)
    assert a.bulk(2000) == b.bulk(2000)
    assert a.page(300) == b.page(300)
    assert Feed(8).bulk(50) != Feed(7).bulk(50)


def test_envelope_shape():
    _, lines = _feed_lines(1)
    kinds = set()
    for line in lines:
        env = json.loads(line)
        assert set(env) <= {"seq", "id", "changes", "deleted", "doc"}
        assert env["doc"]["_id"] == env["id"]
        assert env["changes"] == [{"rev": env["doc"]["_rev"]}]
        kinds.add("tombstone" if env.get("deleted") else env["doc"].get("type", "design"))
    assert kinds == {"order", "product", "user", "tombstone", "design"}


def test_model_matches_independent_replay():
    f, lines = _feed_lines(3)
    ref = _replay(lines)
    for t in TYPES:
        cols, rows = f.model.expected(t)
        ref_cols, ref_rows = ref[t]
        assert cols == ref_cols
        assert sorted(rows) == sorted(ref_rows.values())


def test_line_order_does_not_matter():
    f = Feed(4)
    lines = f.bulk(2000)
    random.Random(0).shuffle(lines)
    assert [_seq(x) for x in lines] != sorted(_seq(x) for x in lines)
    ref = _replay(lines)
    for t in TYPES:
        assert sorted(f.model.expected(t)[1]) == sorted(ref[t][1].values())


def test_frozen_schema_drops_and_nulls():
    f, _ = _feed_lines(5)
    order_cols = f.model.schemas["order"]
    assert "note" not in order_cols  # only later docs carry it
    assert "dispatchAddress_town" in order_cols and "basket" in order_cols
    nulls = [r for r in f.model.rows["order"].values() if r["dispatchCourierRef"] is None]
    assert nulls, "some later orders lack dispatchCourierRef and read back as NULL"
    assert all(isinstance(r["total"], float) for r in f.model.rows["order"].values())


def test_tombstones_and_recreation():
    f = Feed(6)
    for t in TYPES:
        f.new_doc(t)
    victim = f.created[0]
    t = victim.split(":")[0]
    f.tombstone(victim)
    assert victim not in f.model.rows[t]
    f.update(victim)
    assert victim in f.model.rows[t]


def test_design_docs_never_reach_a_table():
    f = Feed(9)
    f.bulk(500)
    for _ in range(5):
        f.design_doc()
    assert f.n_design == BULK_DESIGN + 5
    assert not any(i.startswith("_design/") for t in TYPES for i in f.model.rows[t])


def test_flatten_matches_the_package_rule():
    document = pytest.importorskip("couchwarehouse_spark.operators.document")
    f = Feed(10)
    f.bulk(300)
    for doc in list(f.docs.values())[:100]:
        assert flatten(doc) == document.flatten_doc(doc)


def test_digest_is_order_insensitive():
    rows = [("a", "1.0"), ("b", "\\N"), ("c", "true")]
    assert table_digest(rows) == table_digest(list(reversed(rows)))
    assert table_digest(rows) != table_digest(rows[:2])


def test_zipf_is_seeded_and_skewed():
    ids = [f"order:{i}" for i in range(1000)]
    z1, z2 = Zipf(random.Random(2), ids), Zipf(random.Random(2), ids)
    picks = [z1.pick() for _ in range(2000)]
    assert picks == [z2.pick() for _ in range(2000)]
    assert set(picks) <= set(ids)
    top = max(set(picks), key=picks.count)
    assert picks.count(top) > 20 * 2000 / len(ids)  # far above uniform


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)

"""The two benchmark workloads.

Each workload is a function of a :class:`Run`. It sets up (timed into
``setup_s``), runs its measured ops with one closed-loop client, then
checks every op's output outside the timed region. It returns its
named end-to-end metrics; :func:`primary` maps them onto the generic
slots that BENCHMARK.json gates.

A wrong output counts its op in ``Run.failed``. An ETL op that raises
ends the run with its traceback, because later ops build on its state;
a registry entry that raises is counted and the pass goes on.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import struct
import time
from contextlib import contextmanager, nullcontext
from datetime import datetime

from feed import TYPES, Feed, Zipf, canon_row, table_digest, write_lines
from tracer import catalyst_phases, files_read

HERE = os.path.dirname(os.path.abspath(__file__))
REGISTRY_DATA = os.path.join(HERE, "fixtures", "sf0.01")
REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# One entry per plan module.
REGISTRY_ENTRIES = (
    "pricing_summary", "bm25_relevance", "json_functions", "flatten_props",
    "tumbling_window_counts", "token_frequency", "minhash_lsh_candidates",
    "knn_cosine_topk", "graph_pagerank_3iter", "percentile_stats",
    "dataset_card", "weighted_sample_topk", "multimodal_frame_sample",
    "salted_skew_aggregate", "repetition_census",
)

MONITOR_PRELOAD = 1_000
MONITOR_PAGE = 1_000
MONITOR_PAGES = 4
SERVE_PRELOAD = 2_000
SERVE_WRITE = 200
SERVE_READS_PER_WRITE = 20
SERVE_SQL = (
    ("order", "SELECT status AS k, count(*) AS n, "
     "sum(CAST(round(total * 100) AS BIGINT)) AS s FROM shop_order GROUP BY status"),
    ("product", "SELECT supplier_country AS k, count(*) AS n, "
     "sum(CAST(stock AS BIGINT)) AS s FROM shop_product GROUP BY supplier_country"),
    ("user", "SELECT address_town AS k, count(*) AS n, "
     "sum(CAST(verified AS INT)) AS s FROM shop_user GROUP BY address_town"),
)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Run:
    """State of one workload run: timings, op windows, check results."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup_s = 0.0
        self.ops: list[dict] = []  # measured ops: kind, t0, t1 (epoch), dt, changes
        self.attempted = 0
        self.failed: set[str] = set()  # ids of ops that raised or were wrong
        self.failures: list[str] = []  # why, one line each
        self.warehouses: list[str] = []  # dirs whose layout is reported
        self.trace: dict = {}  # workload-specific per-layer inputs

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def setup(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def op(self, kind: str, changes: int = 0):
        rec = {"kind": kind, "changes": changes}
        with self.tracer.op(kind) if self.tracer else nullcontext():
            rec["t0"] = time.time()
            t = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dt"] = time.perf_counter() - t
                rec["t1"] = time.time()
        self.ops.append(rec)

    def fail(self, op_ids, why: str) -> None:
        self.failed.update([op_ids] if isinstance(op_ids, str) else op_ids)
        self.failures.append(why)

    def check_tables(self, wh, model, op_ids, label: str) -> None:
        """Every type table's columns, row count and digest vs the model;
        a mismatch fails every op that wrote the tables."""
        for t in TYPES:
            cols, expected = model.expected(t)
            got = wh.table(t).toArrow()
            if sorted(got.column_names) != cols:
                self.fail(op_ids, f"{label}: {t} columns {sorted(got.column_names)} != {cols}")
                continue
            rows = [canon_row(r, cols) for r in got.to_pylist()]
            if len(rows) != len(expected) or table_digest(rows) != table_digest(expected):
                self.fail(
                    op_ids,
                    f"{label}: {t} has {len(rows)} rows, model {len(expected)}, digests differ",
                )


def _warehouse(run: Run):
    from couchwarehouse_spark.warehouse import Warehouse

    return Warehouse(run.spark, run.path("wh"), "shop", split="type")


# -- monitor_sync ------------------------------------------------------------


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def monitor_sync(run: Run) -> dict:
    """Drain a backlog of feed pages, one micro-batch per page."""
    from couchwarehouse_spark.streaming.ingest import monitor_warehouse

    with run.setup():
        feed = Feed(run.seed)
        land = run.path("landing")
        os.makedirs(land)
        batches = [feed.bulk(MONITOR_PRELOAD)]
        batches += [feed.page(MONITOR_PAGE) for _ in range(MONITOR_PAGES)]
        for i, lines in enumerate(batches):
            p = os.path.join(land, f"page-{i:05d}.jsonl")
            write_lines(p, lines)
            os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))  # drain order
        wh = _warehouse(run)
    batch_ids = [f"batch {i}" for i in range(len(batches))]
    start = time.perf_counter()
    query = monitor_warehouse(
        wh, land, run.path("stream_ckpt"), available_now=True, max_files_per_trigger=1
    )
    try:
        query.awaitTermination()
    except Exception as exc:
        run.fail(batch_ids, f"stream: {type(exc).__name__}: {exc}")
    drain_s = time.perf_counter() - start
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    # The preload batch is the warm-up: it runs cold, into a fresh table.
    # A separate warm-up page cost about 8 s a run, and the first page
    # after it still ran about a third slower than the rest.
    if progress:
        run.setup_s += progress[0].durationMs["triggerExecution"] / 1e3
    for p in progress[1:]:
        t0 = _epoch(p.timestamp)
        dt = p.durationMs["triggerExecution"] / 1e3
        run.ops.append(
            {"kind": "batch", "t0": t0, "t1": t0 + dt, "dt": dt, "changes": MONITOR_PAGE}
        )
    run.trace["progress"] = [
        {"rows": p.numInputRows, "t0": _epoch(p.timestamp), **p.durationMs}
        for p in progress[1:]
    ]
    run.attempted = len(batches)
    if len(progress) != len(batches):
        run.fail(batch_ids[len(progress):], f"stream committed {len(progress)} batches for {len(batches)} pages")
    run.check_tables(wh, feed.model, batch_ids, "stream final state")
    run.warehouses = [wh.warehouse_dir]
    lat = [o["dt"] for o in run.ops]
    if not lat:
        raise RuntimeError("no measured micro-batches")
    window = run.ops[-1]["t1"] - run.ops[0]["t0"]
    return {
        "sync_changes_per_s": MONITOR_PAGE * len(lat) / window,
        "sync_batch_p50_s": statistics.median(lat),
        "sync_batch_p75_s": quantile(lat, 0.75),
        "drain_s": drain_s,
        "batches": len(lat),
    }


# -- serve_mixed -------------------------------------------------------------


def _expected_agg(model, doc_type: str) -> dict:
    out: dict = {}
    for row in model.rows[doc_type].values():
        if doc_type == "order":
            k, v = row["status"], int(round(row["total"] * 100))
        elif doc_type == "product":
            k, v = row["supplier_country"], int(row["stock"])
        else:
            k, v = row["address_town"], int(row["verified"])
        n, s = out.get(k, (0, 0))
        out[k] = (n + 1, s + v)
    return out


def serve_mixed(run: Run) -> dict:
    """One pass over the registry entries, then Zipf point lookups and
    group-by SQL with a small spool between each block of reads and the
    next. The registry pass runs first so that the reads find a warm
    JVM: read straight after the preload, the first lookups ran up to
    twice as slow as the rest."""
    import couchwarehouse_spark.plans.all  # noqa: F401  (populates the registry)

    lookups, sqls, writes = [], [], []
    scanned, phases = [], []
    write_ids = []

    def write() -> None:
        run.attempted += 1
        write_ids.append(f"write {run.attempted}")
        path = run.path(f"write-{len(write_ids):05d}.jsonl")
        write_lines(path, feed.page(SERVE_WRITE))
        with run.op("write", changes=SERVE_WRITE) as rec:
            wh.spool(path)
        writes.append(rec["dt"])

    def reads(n: int) -> None:
        for k in range(n):
            run.attempted += 1
            op_id = f"read {run.attempted}"
            if k % 5 == 4:
                doc_type, sql = SERVE_SQL[len(sqls) % len(SERVE_SQL)]
                with run.op("sql") as rec:
                    df = wh.query(sql)
                    got = df.collect()
                sqls.append(rec["dt"])
                want = _expected_agg(feed.model, doc_type)
                if {r["k"]: (r["n"], r["s"]) for r in got} != want:
                    run.fail(op_id, f"sql {doc_type}: result differs from the model")
            else:
                doc_id = zipf.pick()
                doc_type = doc_id.split(":", 1)[0]
                with run.op("lookup") as rec:
                    df = wh.lookup(doc_id, doc_type)
                    got = df.collect()
                lookups.append(rec["dt"])
                cols = feed.model.schemas[doc_type]
                row = feed.model.rows[doc_type].get(doc_id)
                want = [canon_row(row, cols)] if row is not None else []
                if [canon_row(r.asDict(), cols) for r in got] != want:
                    run.fail(op_id, f"lookup {doc_id}: row differs from the model")
            if run.tracer:
                phases.append(catalyst_phases(df))
                if rec["kind"] == "lookup":
                    scanned.append(files_read(df))

    with run.setup():
        feed = Feed(run.seed)
        pre = run.path("preload.jsonl")
        write_lines(pre, feed.bulk(SERVE_PRELOAD))
        wh = _warehouse(run)
        wh.spool(pre)
        zipf = Zipf(random.Random(run.seed), feed.created)
    start = time.perf_counter()
    results = _registry_pass(run)
    registry_s = time.perf_counter() - start
    reads(SERVE_READS_PER_WRITE)
    while not writes or time.perf_counter() - start < run.seconds:
        write()
        reads(SERVE_READS_PER_WRITE)
    end = time.perf_counter()
    run.check_tables(wh, feed.model, write_ids, "serve final state")
    _check_registry(run, results)
    run.warehouses = [wh.warehouse_dir]
    run.trace.update(phases=phases, files_read=scanned)
    return {
        "lookup_p50_s": statistics.median(lookups),
        "lookup_p75_s": quantile(lookups, 0.75),
        "lookup_p90_s": quantile(lookups, 0.90),
        "sql_p50_s": statistics.median(sqls),
        "write_p50_s": statistics.median(writes),
        "registry_pass_s": registry_s,
        "client_ops_per_s": len(run.ops) / (end - start),
        "lookups": len(lookups),
        "queries": len(sqls),
        "writes": len(writes),
        "entry_s": {o["entry"]: o["dt"] for o in run.ops if o["kind"] == "entry"},
    }


# -- registry entries (run by serve_mixed) -----------------------------------


def _frames_differ(a, b) -> str | None:
    """The registry oracle rule: same columns and rows, floats
    bit-exact, rows compared in a canonical order."""
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"

    def norm(df):
        out = df[sorted(df.columns)].copy()
        for c in out.columns:
            if pd.api.types.is_datetime64_any_dtype(out[c]):
                out[c] = out[c].astype("datetime64[us]")
                if getattr(out[c].dt, "tz", None) is not None:
                    out[c] = out[c].dt.tz_localize(None)
        floats = [c for c in out.columns if pd.api.types.is_float_dtype(out[c])]
        keys = [c for c in out.columns if c not in floats] + floats
        return out.sort_values(by=keys, kind="mergesort", na_position="last").reset_index(drop=True)

    a, b = norm(a), norm(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            if not (pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y)):
                return f"{c}: dtype {x.dtype} vs {y.dtype}"
            for u, v in zip(x.tolist(), y.tolist()):
                un, vn = math.isnan(u), math.isnan(v)
                if un or vn:
                    if un != vn:
                        return f"{c}: {u!r} vs {v!r}"
                elif struct.pack("<d", u) != struct.pack("<d", v):
                    return f"{c}: {u!r} vs {v!r}"
        else:
            xs = x.astype(object).where(pd.notna(x), None).tolist()
            ys = y.astype(object).where(pd.notna(y), None).tolist()
            if xs != ys:
                return f"{c}: values differ"
    return None


def _registry_pass(run: Run) -> dict:
    """One pass over the registry entries, one per plan module, in an
    order set by the seed. Each entry is built and its result collected
    to the client. An entry that raises counts as failed and the pass
    goes on."""
    from couchwarehouse_spark.plans import QUERIES

    order = list(REGISTRY_ENTRIES)
    random.Random(run.seed).shuffle(order)
    results = {}
    for name in order:
        run.attempted += 1
        try:
            with run.op("entry") as rec:
                rec["entry"] = name
                with run.span("plans.build"):
                    df = QUERIES[name](run.spark, REGISTRY_DATA)
                with run.span("plans.exec"):
                    results[name] = df.toPandas()
        except Exception as exc:
            run.fail(name, f"{name}: {type(exc).__name__}: {exc}")
        run.spark.catalog.clearCache()
    return results


def _check_registry(run: Run, results: dict) -> None:
    """Each collected result against its entry's DuckDB oracle."""
    import duckdb
    from couchwarehouse_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        for tbl in REGISTRY_TABLES:
            con.sql(
                f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"'{os.path.join(REGISTRY_DATA, tbl + '.parquet')}'"
            )
        for name, got in results.items():
            why = _frames_differ(got, con.sql(ORACLES[name]).df())
            if why:
                run.fail(name, f"{name}: {why}")
    finally:
        con.close()


WORKLOADS = {
    "serve_mixed": serve_mixed,
    "monitor_sync": monitor_sync,
}

# Generic end-to-end slots gated by BENCHMARK.json, filled per workload
# from its named metrics: (throughput, op median, op tail).
PRIMARY = {
    "monitor_sync": ("sync_changes_per_s", "sync_batch_p50_s", "sync_batch_p75_s"),
    "serve_mixed": ("client_ops_per_s", "lookup_p50_s", "lookup_p75_s"),
}


def primary(workload: str, named: dict) -> dict:
    tput, p50, p75 = PRIMARY[workload]
    return {
        "throughput_per_s": named[tput],
        "op_p50_s": named[p50],
        "op_p75_s": named[p75],
    }

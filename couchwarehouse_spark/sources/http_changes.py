"""Live CouchDB ``_changes`` HTTP tailer — R1/R2's actual network
layer (reference index.js:74-140 ``spoolChanges`` one-long-request /
batched-get spool; index.js:143-170 ``monitorChanges`` repeated
longpolls; the ChangesReader params ``since``, ``includeDocs``,
``selector`` map to the ``_changes`` API's ``since``,
``include_docs`` and ``filter=_selector``).

Transport: Python stdlib ``urllib`` only. The tailer WRITES the
landing-directory contract the rest of the engine already consumes —
each HTTP batch lands as one immutable JSON-lines page (write to a
dot-prefixed temp name, then atomic rename), so
``sources.changes.read_changes_feed`` (batch) and ``streaming.ingest``
(file tailing) both see a live CouchDB database without knowing HTTP
exists. This keeps the
distributed plane pure Spark: one driver-side thread does I/O against
CouchDB; executors only ever read parquet-sized immutable pages.

Scale stance: the feed is inherently a single ordered HTTP stream
(CouchDB serves ``_changes`` from one shard merge), so a lone tailer
thread is the protocol's own parallelism limit — the fan-out happens
AFTER landing, where Spark reads pages as independent partitions.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

DEFAULT_BATCH_SIZE = 500
PAGE_PATTERN = "page-{:08d}.jsonl"


class ChangesHTTPClient:
    """Minimal ``_changes`` client: normal fetch, drain-spool, and
    longpoll — the three access patterns the reference's ChangesReader
    exposes (``spool`` / ``get`` / ``start``)."""

    def __init__(
        self,
        url: str,
        database: str,
        batch_size: int = DEFAULT_BATCH_SIZE,
        selector: dict | None = None,
        timeout: float = 60.0,
        longpoll_wait_s: float = 25.0,
    ):
        self.base = url.rstrip("/")
        self.database = database
        self.batch_size = batch_size
        self.selector = selector
        self.timeout = timeout
        self.longpoll_wait_s = longpoll_wait_s

    # -- transport ----------------------------------------------------
    def _request(self, params: dict, body: dict | None) -> dict:
        qs = urllib.parse.urlencode(params)
        url = f"{self.base}/{urllib.parse.quote(self.database)}/_changes?{qs}"
        if body is None:
            req = urllib.request.Request(url)
        else:  # Mango-filtered feed is a POST (filter=_selector)
            req = urllib.request.Request(
                url,
                data=json.dumps(body).encode("utf-8"),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.load(resp)

    def fetch(self, since: str, feed: str | None = None) -> dict:
        """One ``_changes`` page from ``since`` (R1 batched get; with
        ``feed='longpoll'`` the R2 monitor probe, reference
        index.js:143-170)."""
        params: dict = {
            "since": since,
            "include_docs": "true",
            "limit": self.batch_size,
        }
        body = None
        if self.selector is not None:
            params["filter"] = "_selector"
            # Deliberate delta vs the reference (index.js:101-104 pushes
            # the selector verbatim): a server-side selector drops
            # deletion tombstones — their {_id,_rev,_deleted} stub never
            # matches — so downstream delete propagation would silently
            # stop. OR-ing `_deleted` keeps tombstones flowing; the
            # warehouse applies the user selector to live docs locally
            # and handles tombstones on its own path.
            body = {"selector": {"$or": [self.selector, {"_deleted": True}]}}
        if feed:
            params["feed"] = feed
            params["timeout"] = int(self.longpoll_wait_s * 1000)
        return self._request(params, body)

    # -- access patterns ----------------------------------------------
    def spool(self, since: str = "0") -> Iterator[tuple[list[dict], str]]:
        """Drain the feed from ``since``: yield ``(results, last_seq)``
        per batch until caught up (``pending == 0``, or a short page on
        servers that omit ``pending``)."""
        while True:
            page = self.fetch(since)
            results = page.get("results", [])
            last = str(page.get("last_seq", since))
            if results:
                yield results, last
            pending = page.get("pending")
            caught_up = (
                not results
                or pending == 0
                or (pending is None and len(results) < self.batch_size)
            )
            if caught_up:
                return
            since = last

    def longpoll(self, since: str) -> tuple[list[dict], str]:
        """One longpoll probe: blocks server-side until changes arrive
        or the wait elapses (empty results)."""
        page = self.fetch(since, feed="longpoll")
        return page.get("results", []), str(page.get("last_seq", since))

    def head_seq(self) -> int:
        """The feed-head sequence number: one ``since=now&limit=1``
        probe (the reference's progress-bar target, index.js:218-229)
        — ``last_seq`` with ``since=now`` is the database's current
        update seq, i.e. the total a fresh spool is aiming for."""
        from couchwarehouse_spark.operators.document import extract_seq_number

        page = self._request({"since": "now", "limit": 1}, None)
        return extract_seq_number(str(page.get("last_seq", "0"))) or 0


# -- landing-directory bridge -----------------------------------------
def _next_page_no(landing_dir: str) -> int:
    """max(existing page number) + 1 — NOT the file count: archiving
    or pruning already-processed pages must never make a later write
    reuse (and silently clobber) a still-live page name, and file-
    stream readers track paths, so a reused name would also be
    skipped unread."""
    if not os.path.isdir(landing_dir):
        return 0
    nums = [
        int(m.group(1))
        for f in os.listdir(landing_dir)
        if (m := re.match(r"page-(\d+)\.jsonl$", f))
    ]
    return max(nums) + 1 if nums else 0


def _write_page(landing_dir: str, page_no: int, results: list[dict]) -> str:
    """Land one batch as an immutable JSON-lines page. Dot-prefixed
    temp name + ``os.replace`` keeps readers (which skip dotfiles)
    from ever seeing a partial page."""
    name = PAGE_PATTERN.format(page_no)
    tmp = os.path.join(landing_dir, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for env in results:
            f.write(json.dumps(env, separators=(",", ":")) + "\n")
    final = os.path.join(landing_dir, name)
    os.replace(tmp, final)
    return final


def resume_since(landing_dir: str) -> str:
    """Resume token from the landing dir itself: the last landed
    page's last envelope seq (the same per-batch checkpoint the
    reference writes, index.js:119-121). '0' on an empty dir."""
    if not os.path.isdir(landing_dir):
        return "0"
    pages = sorted(
        f
        for f in os.listdir(landing_dir)
        if not f.startswith(".") and not f.startswith("_")
    )
    for page in reversed(pages):
        last_line = None
        with open(os.path.join(landing_dir, page), encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    last_line = line
        if last_line is not None:
            return str(json.loads(last_line).get("seq", "0"))
    return "0"


def spool_to_dir(
    client: ChangesHTTPClient,
    landing_dir: str,
    since: str | None = None,
    on_batch: Callable[[int, str], None] | None = None,
) -> str:
    """Drain the remote feed into ``landing_dir`` (R1 spool). Returns
    the last seq token. ``since=None`` resumes from the landing dir's
    own checkpoint; ``on_batch(n_changes, last_seq)`` is the progress
    hook (R18 — the reference ticks a progress bar per batch)."""
    os.makedirs(landing_dir, exist_ok=True)
    if since is None:
        since = resume_since(landing_dir)
    page_no = _next_page_no(landing_dir)
    last = since
    for results, last in client.spool(since):
        _write_page(landing_dir, page_no, results)
        page_no += 1
        if on_batch:
            on_batch(len(results), last)
    return last


def monitor_to_dir(
    client: ChangesHTTPClient,
    landing_dir: str,
    since: str,
    should_stop: Callable[[], bool],
    on_batch: Callable[[int, str], None] | None = None,
) -> str:
    """Repeated-longpoll monitor (R2, reference index.js:143-170):
    land each non-empty probe as a page until ``should_stop()``.
    Returns the last seq token. Run on a driver-side thread; the
    Spark streaming job tails the landing dir independently."""
    os.makedirs(landing_dir, exist_ok=True)
    page_no = _next_page_no(landing_dir)
    while not should_stop():
        results, last = client.longpoll(since)
        if results:
            _write_page(landing_dir, page_no, results)
            page_no += 1
            if on_batch:
                on_batch(len(results), last)
        since = last
    return since

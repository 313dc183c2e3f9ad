"""Write-layout counts derived from outside the program.

Reads each table's manifests under ``_cw_versions/`` and the footers
of the parquet files they list. Nothing here calls the package.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def _tables(warehouse_dir: str) -> list[str]:
    if not os.path.isdir(warehouse_dir):
        return []
    return sorted(
        os.path.join(warehouse_dir, d)
        for d in os.listdir(warehouse_dir)
        if os.path.isdir(os.path.join(warehouse_dir, d, "_cw_versions"))
    )


def _manifests(table: str) -> list[dict]:
    vdir = os.path.join(table, "_cw_versions")
    out = []
    for fn in sorted(os.listdir(vdir)):
        if fn.startswith("v") and fn.endswith(".json"):
            with open(os.path.join(vdir, fn)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["version"])


def _files(table: str, manifest: dict) -> set[str]:
    return {
        os.path.join(table, f"_cw_bucket={b}", fn)
        for b, fns in manifest["buckets"].items()
        for fn in fns
    }


class Footers:
    """Row counts and sizes of part files, read once per file."""

    def __init__(self) -> None:
        self._rows: dict[str, int] = {}

    def rows(self, path: str) -> int:
        if path not in self._rows:
            self._rows[path] = pq.ParquetFile(path).metadata.num_rows
        return self._rows[path]


def commits(warehouse_dir: str, footers: Footers) -> list[dict]:
    """One record per committed table version: its commit time, the
    files it added over the previous version and their row count."""
    out = []
    for table in _tables(warehouse_dir):
        prev: set[str] = set()
        for m in _manifests(table):
            files = _files(table, m)
            added = files - prev
            out.append(
                {
                    "table": os.path.basename(table),
                    "version": m["version"],
                    "ts": float(m["ts"]),
                    "files_added": len(added),
                    "rows_added": sum(footers.rows(p) for p in added),
                }
            )
            prev = files
    return out


def live(warehouse_dir: str, footers: Footers) -> dict:
    """Live files, non-empty buckets, bytes and rows of every table's
    latest version."""
    files = buckets = size = rows = 0
    for table in _tables(warehouse_dir):
        m = _manifests(table)[-1]
        paths = _files(table, m)
        files += len(paths)
        buckets += sum(1 for fns in m["buckets"].values() if fns)
        size += sum(os.path.getsize(p) for p in paths)
        rows += sum(footers.rows(p) for p in paths)
    return {"files": files, "buckets": buckets, "bytes": size, "rows": rows}

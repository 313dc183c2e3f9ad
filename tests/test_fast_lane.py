"""The fast lane's manifests and selection rules (tests/conftest.py):
the deselect list must name real, recorded-slow tests, and a test the
user names by node id runs even when the manifest lists it."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
from types import SimpleNamespace

from . import conftest

TESTS = pathlib.Path(__file__).parent
REPO = TESTS.parent


def test_manifest_names_collected_recorded_slow_tests():
    skip = json.loads((TESTS / "fast_lane_skip.json").read_text())
    durations = json.loads((TESTS / "test_durations.json").read_text())
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "tests/"],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_FULL_TESTS": "1"},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    collected = {line for line in out.splitlines() if "::" in line}
    assert not [n for n in skip if n not in collected], "stale manifest entries"
    assert not [n for n in skip if durations.get(n, 0) < 2], "not recorded slow"


def test_named_node_ids_bypass_the_fast_lane(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    skip = json.loads((TESTS / "fast_lane_skip.json").read_text())
    slow, other_slow = skip[0], skip[1]
    param_slow = next(n for n in skip if n.endswith("[time_travel_cdc]"))
    items = [SimpleNamespace(nodeid=n) for n in (slow, other_slow, param_slow)]
    deselected = []
    config = SimpleNamespace(
        args=[slow, param_slow.partition("[")[0]],
        invocation_params=SimpleNamespace(dir=REPO),
        rootpath=REPO,
        hook=SimpleNamespace(pytest_deselected=lambda items: deselected.extend(items)),
    )
    conftest.pytest_collection_modifyitems(config, items)
    # Named exactly, or as the function owning the parametrized id:
    # kept. Listed but not named: still deselected.
    assert [it.nodeid for it in items] == [slow, param_slow]
    assert [it.nodeid for it in deselected] == [other_slow]

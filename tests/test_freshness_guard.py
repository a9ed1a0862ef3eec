"""Driver-row freshness guard (r8 verdict task 2).

`tools/freshness.py` fingerprints every registered query over its
oracle SQL + transitive implementation sources, and
`tools/freshness_manifest.json` records the fingerprint each query
had at its NEWEST driver-green round (bootstrapped from git history
at the per-round driver commits). After a change that drifts a
fingerprint, ``python tools/freshness.py restamp <sf_dir> <round>``
re-stamps only the queries that match their oracle at ``sf_dir``.

This test is the local red the r8 verdict asked for: a query whose
implementation or oracle changed AFTER its newest driver row must
either hold a `_DRIVER_WINDOW` slot this round (so the driver
re-validates it) or be reverted. Without it, nothing notices when a
shared helper evolves under a query validated rounds ago — the exact
gap that left 5 widened queries driver-stale in round 8.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load_freshness():
    spec = importlib.util.spec_from_file_location(
        "freshness", REPO / "tools" / "freshness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_query_runs_code_newer_than_its_driver_row():
    from defimap_data_pipelines_spark.plans.queries import (
        _DRIVER_WINDOW,
        ORACLE,
        QUERIES,
    )

    fresh = _load_freshness()
    manifest = json.loads(
        (REPO / "tools" / "freshness_manifest.json").read_text()
    )
    current = fresh.fingerprints()
    window = set(_DRIVER_WINDOW)

    stale, unstamped = [], []
    for name in QUERIES:
        if name in window:
            continue  # gets a fresh driver row this round
        if name not in ORACLE:
            # documented rows-only entries (xxhash twins, bpe_encode,
            # pack_sequences) never take window slots by policy and
            # cannot earn a hash row by design — exempt
            continue
        entry = manifest.get(name)
        if entry is None:
            unstamped.append(name)
        elif entry["fingerprint"] != current[name]:
            stale.append((name, entry["round"]))

    assert not unstamped, (
        "registered oracle-backed queries with NO driver row and no "
        f"window slot this round: {unstamped} — new registrations "
        "must take a _DRIVER_WINDOW slot in the same round"
    )
    assert not stale, (
        "queries whose implementation/oracle changed after their "
        f"newest driver-green row, without a window slot: {stale} — "
        "re-validate them with `python tools/freshness.py restamp "
        "<sf_dir> <round>`, rotate them into _DRIVER_WINDOW or revert "
        "the change"
    )


def test_manifest_covers_registry():
    """Every oracle-backed query is either stamped in the manifest or
    holds a window slot (it will be stamped next round)."""
    from defimap_data_pipelines_spark.plans.queries import (
        _DRIVER_WINDOW,
        ORACLE,
    )

    manifest = json.loads(
        (REPO / "tools" / "freshness_manifest.json").read_text()
    )
    holes = [
        n
        for n in ORACLE
        if n not in manifest and n not in set(_DRIVER_WINDOW)
    ]
    assert not holes, holes


def test_restamp_warms_up_before_the_first_check(monkeypatch, tmp_path):
    """Session start-up lands in an untimed warm-up run of the first
    drifted query, not in that query's check."""
    import types

    fresh = _load_freshness()
    calls = []
    parity = types.SimpleNamespace(
        ORACLE={"a": "", "b": ""},
        duck_connect=lambda sf_dir: None,
        warm_up=lambda name, spark, sf_dir: calls.append(("warm_up", name)),
        check=lambda name, spark, con, sf_dir: (
            calls.append(("check", name)) or (True, 0.0)
        ),
    )
    monkeypatch.setattr(fresh, "_load_parity", lambda: parity)
    monkeypatch.setattr(fresh, "fingerprints", lambda: {"a": "fa", "b": "fb"})
    monkeypatch.setattr(fresh, "MANIFEST", tmp_path / "manifest.json")
    monkeypatch.setattr(
        "defimap_data_pipelines_spark.session.get_spark", lambda *a: None
    )
    assert fresh.restamp("sf", 14) == (["a", "b"], [])
    assert calls == [("warm_up", "a"), ("check", "a"), ("check", "b")]

"""Breadth guard over physical plans (round 13): tests/test_plan_audit.py
asserts ~60 targeted plan properties; this gate rebuilds a normalized
operator histogram for EVERY query keyed in the committed ledger
(tools/plan_fingerprints.json) and fails on any drift — a lost
broadcast, a new exchange, a join-strategy flip, or a multiplied scan
becomes a named suite failure even for queries no targeted predicate
covers. Intentional changes: python tools/plan_fingerprint.py --update
(the drift then lands as a reviewable git diff)."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _tool():
    import plan_fingerprint

    return plan_fingerprint


def test_diff_reports_every_drift_kind():
    d = _tool().diff(
        {"a": {"FileScan": 1}, "b": {"Exchange:hashpartitioning": 2}, "gone": {}},
        {"a": {"FileScan": 2}, "b": {"Exchange:hashpartitioning": 2}, "new": {}},
    )
    assert "a: FileScan 1 -> 2" in d
    assert "gone: REMOVED (in ledger, not rebuilt)" in d
    assert "new: NEW (not in committed ledger)" in d
    assert not any(ln.startswith("b:") for ln in d)


def test_fingerprint_keys_resolve_in_registry():
    """Every ledger key names a registry query, so a renamed or removed
    query cannot leave a stale fingerprint behind."""
    from canvas_data_aws_spark.plans.registry import all_queries

    registry = all_queries()
    stale = [n for n in _tool().fingerprint_names() if n not in registry]
    assert not stale, f"ledger keys not in the registry: {stale}"


def test_plans_match_committed_fingerprints(spark):
    """The gate: rebuild every ledger signature against sf0.001 and diff.
    One test (not parametrized) so a single rebuild pass reports ALL
    drifting queries at once."""
    tool = _tool()
    with open(tool.LEDGER) as f:
        ledger = json.load(f)
    fresh = tool.build()
    drift = tool.diff(ledger, fresh)
    assert not drift, (
        "physical plans drifted from tools/plan_fingerprints.json:\n  "
        + "\n  ".join(drift)
        + "\nintentional? run: python tools/plan_fingerprint.py --update"
    )

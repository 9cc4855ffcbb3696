"""Physical-plan fingerprint ledger: breadth guard against silent plan
regressions.

tests/test_plan_audit.py asserts ~60 TARGETED plan properties (pushdown
reaches the scan, dims broadcast, top-k fuses...). This tool is the
BREADTH complement: for every query keyed in the committed ledger
(``tools/plan_fingerprints.json``) it records a normalized histogram of
the physical plan's operator labels (node name, plus the partitioning
kind for exchanges and the join type for joins), and the suite fails on
ANY drift from the ledger — a lost broadcast, a new exchange, a join
strategy flip, or a scan multiplying shows up as a named diff even for
queries no targeted predicate covers.

The histogram deliberately contains NO volatile detail (expression ids,
paths, partition counts, plan ids), so it is deterministic for a fixed
Spark version + fixed testdata: signatures are built at sf0.001 (the
test fixture scale) against the initial AQE plan (``explain("simple")``
on the unexecuted frame — what the optimizer commits to before runtime
stats, i.e. the part the repo's code controls).

Usage:
    python tools/plan_fingerprint.py --update      # regenerate the ledger's keys
    python tools/plan_fingerprint.py --update q1   # add or refresh named queries
    python tools/plan_fingerprint.py [--check]     # rebuild + diff, rc 1 on drift
    python tools/plan_fingerprint.py --check q1 q2 # restrict to named queries

Intentional plan changes are one ``--update`` away; the point is that
they become a REVIEWED diff in git instead of a silent regression.
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEDGER = os.path.join(REPO, "tools", "plan_fingerprints.json")
SF_DIR = "/root/testdata/sf0.001"

_JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_JOIN_TYPES = (
    "Inner|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin"
)


def signature(df) -> dict[str, int]:
    """Normalized operator histogram of the frame's initial physical plan."""
    from canvas_data_aws_spark.plans.audit import explain_str

    txt = explain_str(df, mode="simple")
    counts: collections.Counter[str] = collections.Counter()
    for line in txt.splitlines():
        s = line.strip()
        if not s or s.startswith("=="):
            continue
        s = re.sub(r"^[:+\-\s]*", "", s)  # tree decoration
        s = re.sub(r"^\*\(\d+\)\s*", "", s)  # codegen star prefix
        nm = re.match(r"([A-Za-z][A-Za-z0-9]*)", s)
        if not nm:
            continue
        name = nm.group(1)
        label = name
        if name == "Exchange":
            kind = re.match(r"Exchange (\w+)", s)
            label = f"Exchange:{kind.group(1)}" if kind else name
        elif name in _JOIN_NODES:
            jt = re.search(rf"\b({_JOIN_TYPES})\b", s)
            label = f"{name}:{jt.group(1)}" if jt else name
        counts[label] += 1
    return dict(sorted(counts.items()))


def fingerprint_names() -> list[str]:
    """The gated set: the committed ledger's keys. Streaming entries stay
    out of it: their constructors await live queries and return a sink
    read-back whose plan is a trivial scan."""
    with open(LEDGER) as f:
        return list(json.load(f))


def build(names: list[str] | None = None) -> dict[str, dict[str, int]]:
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-plan-fingerprint")
    registry = all_queries()
    out: dict[str, dict[str, int]] = {}
    for n in names or fingerprint_names():
        out[n] = signature(registry[n].fn(spark, SF_DIR))
        # Per-query cache isolation: a query that persists an
        # intermediate would otherwise leak it into the CacheManager, and
        # LATER queries whose analyzed plans contain the same subtree get
        # cache-substituted — their recorded fingerprint would then depend
        # on run ORDER, not on their own plan.
        spark.catalog.clearCache()
        try:
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
        except Exception:
            pass  # private-API cleanup is best-effort
    return out


def diff(old: dict, new: dict) -> list[str]:
    """Human-readable drift lines; empty means the ledgers agree."""
    lines: list[str] = []
    for name in sorted(set(old) | set(new)):
        a, b = old.get(name), new.get(name)
        if a == b:
            continue
        if a is None:
            lines.append(f"{name}: NEW (not in committed ledger)")
            continue
        if b is None:
            lines.append(f"{name}: REMOVED (in ledger, not rebuilt)")
            continue
        for label in sorted(set(a) | set(b)):
            ca, cb = a.get(label, 0), b.get(label, 0)
            if ca != cb:
                lines.append(f"{name}: {label} {ca} -> {cb}")
    return lines


def main(argv: list[str]) -> int:
    update = "--update" in argv
    names = [a for a in argv if not a.startswith("--")] or None
    fresh = build(names)
    if update:
        ledger = {}
        if names and os.path.exists(LEDGER):
            with open(LEDGER) as f:
                ledger = json.load(f)
        ledger = dict(sorted({**ledger, **fresh}.items()))
        with open(LEDGER, "w") as f:
            json.dump(ledger, f, indent=1)
        print(f"wrote {len(ledger)} fingerprints to {LEDGER}")
        return 0
    with open(LEDGER) as f:
        ledger = json.load(f)
    if names:
        ledger = {k: v for k, v in ledger.items() if k in set(names)}
    drift = diff(ledger, fresh)
    if drift:
        print("PLAN DRIFT:")
        for ln in drift:
            print(f"  {ln}")
        print("intentional? run: python tools/plan_fingerprint.py --update")
        return 1
    print(f"OK: {len(fresh)} plans match the committed ledger")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

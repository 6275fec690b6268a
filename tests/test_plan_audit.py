"""Source and plan hygiene: the collect() bound contract over engine
source, and the plan audit over profile records (tools/profile.py)."""

from __future__ import annotations

import glob
import os
import re

from tools.profile import audit, audit_plan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_engine_collect_states_its_bound():
    """Every driver-side .collect() in ENGINE source (operators/,
    streaming/, sql_dml, etl — not the test-scale query bodies) states
    its bound in a comment within the 6 preceding lines (tokens:
    'bounded', '1-row', 'one row', or an 'O(...)' cost). An unannotated
    collect is how corpus-scale driver pulls sneak in."""
    token = re.compile(r"bounded|1-row|one row|O\(", re.I)
    files = [
        f
        for r in ("scopus_spark/operators", "scopus_spark/streaming")
        for f in glob.glob(os.path.join(ROOT, r, "*.py"))
    ] + [
        os.path.join(ROOT, "scopus_spark", "sql_dml.py"),
        os.path.join(ROOT, "scopus_spark", "etl.py"),
    ]
    bad = []
    for path in files:
        with open(path) as fh:
            lines = fh.readlines()
        for i, ln in enumerate(lines):
            if ".collect()" in ln and not token.search(
                "".join(lines[max(0, i - 6) : i + 1])
            ):
                bad.append(f"{os.path.relpath(path, ROOT)}:{i + 1}")
    assert len(files) > 10
    assert bad == []


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastNestedLoopJoin Inner BuildRight (8)
   :- Exchange (3)
   :  +- MapInPandas (2)
   +- BroadcastExchange (7)
      +- ReusedExchange (6)

(3) Exchange
Input [1]: [a#1]
(6) ReusedExchange [Reuses operator id: 3]
(7) BroadcastExchange
(8) BroadcastNestedLoopJoin
"""


def test_plan_audit_flags_and_allows():
    """A nested-loop join is a violation unless (key, pattern) is
    allow-listed; Python stages are listed, and exchanges are counted
    once per plan node, reused and broadcast exchanges not."""
    assert audit_plan("j5", PLAN) == (
        1, ["BroadcastNestedLoopJoin (allowed)", "MapInPandas"], []
    )
    assert audit_plan("d1", PLAN)[2] == ["BroadcastNestedLoopJoin"]
    report, n_bad = audit({"sf_dir": "sf", "keys": {
        "j5": {"plan": PLAN}, "d10": {"plan": "== Physical Plan =="},
        "d2": {"error": "RuntimeError: boom"},
    }})
    assert n_bad == 1
    assert "| j5 | 1 | BroadcastNestedLoopJoin (allowed); MapInPandas |" in report
    assert report.index("| d2 |") < report.index("| d10 |")
    assert "- **d2**: PROFILE_ERROR" in report
    report, n_bad = audit({"sf_dir": "sf", "keys": {"j5": {"plan": PLAN}}})
    assert n_bad == 0 and "No violations" in report

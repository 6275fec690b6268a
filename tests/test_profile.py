"""The per-key profiler (tools/profile.py): one run end to end, and --diff."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SMOKE_SF_DIR
from tools.profile import main

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_records_every_layer_of_a_key(tmp_path):
    """A separate process (its own session, event log on) profiles d1:
    the record carries the build's py4j calls, all three Catalyst
    phases, the key's jobs and tasks from the event log, and its plan."""
    out = tmp_path / "p.json"
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile.py"),
         "--keys", "d1", "--sf-dir", SMOKE_SF_DIR, "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    prof = json.loads(out.read_text())
    assert prof["sf_dir"] == SMOKE_SF_DIR
    rec = prof["keys"]["d1"]
    assert rec["exec.jobs"] >= 1
    assert rec["exec.stages"] >= 1
    assert rec["exec.tasks"] >= 1
    assert rec["exec.input_rows"] > 0
    assert rec["queries.py4j_calls"] > 0
    for phase in ("analysis", "optimization", "planning"):
        assert f"catalyst.{phase}_ms" in rec
    assert rec["plan"].startswith("== Physical Plan ==")
    assert rec["wall_s"] > 0
    assert rec["exec.persisted_rdds_after"] >= 0
    assert rec["exec.cached_plans_after"] == 0


def test_diff_prints_per_key_ratios(tmp_path, capsys):
    """--diff needs no session: per key in both profiles, each numeric
    metric of A and B and B/A; keys in one profile only, text fields and
    metrics zero in both are left out."""
    a = {"keys": {
        "d1": {"wall_s": 2.0, "exec.tasks": 4, "exec.spill_bytes": 0,
               "python.bytes_to_worker": 0, "plan": "x"},
        "c8": {"error": "RuntimeError: boom"},
        "j3": {"wall_s": 1.0},
    }}
    b = {"keys": {
        "d1": {"wall_s": 3.0, "exec.tasks": 4, "exec.spill_bytes": 0,
               "python.bytes_to_worker": 10, "plan": "y"},
        "c8": {"wall_s": 1.0},
    }}
    pa, pb, out = tmp_path / "a.json", tmp_path / "b.json", tmp_path / "d.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    assert main(["--diff", str(pa), str(pb), "--out", str(out)]) == 0
    assert json.loads(out.read_text()) == {
        "d1": {"wall_s": [2.0, 3.0, 1.5], "exec.tasks": [4, 4, 1.0],
               "python.bytes_to_worker": [0, 10, None]},
        "c8": {},
    }
    lines = capsys.readouterr().out.splitlines()
    assert any(ln.split()[:2] == ["d1", "wall_s"] and ln.endswith("1.500x") for ln in lines)
    assert any(ln.split()[:2] == ["d1", "python.bytes_to_worker"] and ln.endswith("-") for ln in lines)

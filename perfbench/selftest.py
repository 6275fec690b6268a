"""Self-test of the benchmark harness on a small (sf0.01) corpus.

    python3 perfbench/selftest.py

Runs every workload that BENCHMARK.json lists with a one-second run
length and asserts that:

- each untraced run prints every end-to-end metric of BENCHMARK.json, by
  name with its unit and sample count, and nothing else;
- each traced run prints exactly the per-layer metrics of BENCHMARK.json;
- two traced runs on one seed give identical py4j round trips, jobs and
  tasks for every operation;
- a deliberately corrupted expected digest is caught (exit 1,
  ``correct: false``);
- in a directory holding only BENCHMARK.json and the benchmark, the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1",
           "--sf", "0.01", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    return out


def check_metrics(lines: list[str], want: dict[str, str]) -> dict:
    out = result(lines)
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, f"metrics differ from BENCHMARK.json:\n got  {got}\n want {want}"
    for name, unit in want.items():
        assert any(line.split()[:1] == [name] and f" {unit} " in line and "samples=" in line
                   for line in lines), f"{name} not printed with unit and sample count"
    return out


def per_op_counts(workload: str) -> dict:
    with open(os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-seed1.json")) as fh:
        trace = json.load(fh)
    return {(r["op"], r["pass"]): (r["py4j_calls"], r["jobs"], r["tasks"]) for r in trace["per_op"]}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]

    for w in workloads:
        rc, lines = run(ROOT, "--workload", w, "--trace", "0")
        out = check_metrics(lines, end_to_end)
        assert rc == 0 and out["correct"] and out["failed"] == 0, (w, rc, lines[-2:])
        counts = []
        for _ in range(2):
            rc, lines = run(ROOT, "--workload", w, "--trace", "1")
            out = check_metrics(lines, per_layer)
            assert rc == 0 and out["correct"], (w, rc, lines[-2:])
            counts.append(per_op_counts(w))
        common = counts[0].keys() & counts[1].keys()
        assert common, "traced runs share no operation"
        diff = {k: (counts[0][k], counts[1][k]) for k in common if counts[0][k] != counts[1][k]}
        assert not diff, f"{w}: per-operation counts differ between traced runs: {diff}"
        print(f"ok  {w}: metrics match BENCHMARK.json; {len(common)} ops repeat exactly")

    rc, lines = run(ROOT, "--workload", workloads[0], "--corrupt-expected")
    out = result(lines)
    assert rc == 1 and not out["correct"] and out["failed"] >= 1, (rc, out)
    print("ok  corrupted expected digest is caught")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run(bare, "--workload", workloads[0])
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not any(line.startswith('{"correct"') for line in lines), (rc, lines)
    print("ok  without the engine the command fails and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())

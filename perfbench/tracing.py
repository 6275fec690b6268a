"""Spans, py4j round-trip counting and Spark event-log accounting.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer's public functions, the py4j
counter wraps ``GatewayClient.send_command``, and task-level numbers
come from the Spark event log after the session has stopped.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

import py4j.java_gateway
import py4j.protocol

# Spark's Python SQL metrics (PythonSQLMetrics), as named in task accumulables
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

# local properties every benchmark job carries; the event log records them
# in each job-start event's "Properties"
OP_PROP = "perfbench.op"
PHASE_PROP = "perfbench.phase"


class Tracer:
    """In-memory spans plus a py4j command counter.

    A disabled tracer records nothing; ``span`` is then a bare
    ``yield`` so the untraced path does no extra work. ``on_enter`` is
    called with the innermost span's name whenever it changes (the
    harness tags Spark jobs with it); its own py4j calls fall outside
    the span's count."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.on_enter = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.py4j_calls = 0
        self._orig_send = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        if self.on_enter:
            self.on_enter(name)
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.perf_counter() - self._t0, "end": None,
               "py4j": self.py4j_calls}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["py4j"] = self.py4j_calls - rec["py4j"]
            if self.on_enter:
                self.on_enter(self.spans[parent]["name"] if parent is not None else "")

    def count_py4j(self) -> None:
        """Count every py4j command except the ``m`` memory commands,
        which Python's garbage collector sends at unpredictable times."""
        if self._orig_send is not None:
            return
        orig = py4j.java_gateway.GatewayClient.send_command
        memory = py4j.protocol.MEMORY_COMMAND_NAME
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if not command.startswith(memory):
                tracer.py4j_calls += 1
            return orig(client, command, *args, **kwargs)

        self._orig_send = orig
        py4j.java_gateway.GatewayClient.send_command = send_command

    def close(self) -> None:
        if self._orig_send is not None:
            py4j.java_gateway.GatewayClient.send_command = self._orig_send
            self._orig_send = None

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self`` (duration minus the time its
        direct children cover; children never overlap, one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur": s["end"] - s["start"],
             "self": s["end"] - s["start"] - child[s["id"]]}
            for s in self.spans
        ]


def catalyst_phases(spark, df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the query that produced ``df``."""
    jvm = spark.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return {str(k): float(v.durationMs()) for k, v in phases.items()}


def _stage_counters() -> dict:
    return {"tasks": 0, "task_run_ms": 0, "task_cpu_ms": 0.0, "gc_ms": 0,
            "scheduler_wait_ms": 0, "input_rows": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "py_sent": 0, "py_received": 0}


def parse_event_log(log_dir: str) -> dict[tuple[str, str], dict]:
    """Per-(op, phase) job/stage/task counters from every uncompressed
    event log in ``log_dir``. Only jobs carrying the ``perfbench.op``
    local property are counted."""
    stage_key: dict[tuple[str, int], tuple[str, str]] = {}
    stage_submit: dict[tuple[str, int], int] = {}
    stages: dict[tuple[str, int], dict] = defaultdict(_stage_counters)
    out: dict[tuple[str, str], dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "python_stage_run_ms": 0,
                 **_stage_counters()})
    logs = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(log_dir)
        for f in files if not f.startswith(("appstatus", "."))
    )
    for app in logs:
        with open(app, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if OP_PROP in props:
                        key = (props[OP_PROP], props.get(PHASE_PROP, ""))
                        out[key]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_key[(app, sid)] = key
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[(app, info["Stage ID"])] = info.get(
                        "Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    sk = (app, ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    c = stages[sk]
                    c["tasks"] += 1
                    c["task_run_ms"] += m.get("Executor Run Time", 0)
                    c["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["scheduler_wait_ms"] += max(
                        0, info.get("Launch Time", 0) - stage_submit.get(sk, 0))
                    # rows, not bytes: for local files Spark's "Bytes Read"
                    # stays near zero (2 KB reported for a 10 MB scan)
                    c["input_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            c["py_sent"] += int(acc.get("Update", 0))
                        elif acc.get("Name") == PY_RECEIVED:
                            c["py_received"] += int(acc.get("Update", 0))
    for sk, c in stages.items():
        key = stage_key.get(sk)
        if key is None:
            continue
        o = out[key]
        o["stages"] += 1
        for k, v in c.items():
            o[k] += v
        if c["py_sent"] or c["py_received"]:
            o["python_stage_run_ms"] += c["task_run_ms"]
    return dict(out)

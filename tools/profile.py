"""Per-key profile of registry queries, layer by layer, in one session.

Usage (from the repository root):

    python tools/profile.py --keys d1,c8 [--sf-dir DIR] [--repeat N] [--out P.json]
    python tools/profile.py --diff A.json B.json [--out DIFF.json]

Each key runs as the deleted ``key_times``/``job_counts``/``capture_plans``
loops ran it: build the DataFrame, then a ``noop``-format write (the full
computation, no sink cost), after one shared warm-up of d1. Around that
run the profile takes, with perfbench's tracing (``perfbench/tracing.py``):

- the Python plan build: ``queries.build_ms`` and ``queries.py4j_calls``
  (py4j round trips, garbage-collector commands excluded);
- the formatted physical plan (``explainString``) and, read right after
  it, the Catalyst phases ``catalyst.{analysis,optimization,planning}_ms``
  (the later write adds its own analysis time to the frame's tracker);
- the write: ``exec.noop_write_ms``; ``wall_s`` is build plus write, as
  the deleted tools timed it, with the hypervisor ``steal_pct`` and the
  1-minute load over the key's window;
- from the Spark event log (written uncompressed to a temp dir, one job
  property per key): ``exec.jobs``/``stages``/``tasks``, executor run,
  CPU and GC ms, scheduler wait, input rows, shuffle and spill bytes,
  and the Python-worker bytes and stage time. These count every job the
  key ran; ``queries.eager_jobs`` says how many ran during the build
  (n6's build runs jobs);
- ``exec.persisted_rdds_after`` and ``exec.cached_plans_after``:
  persisted RDDs and CacheManager entries left once the key's frame is
  dropped (and garbage-collected) — what the key leaves to the next one;
- ``codegen.classes_compiled``: generated classes Janino compiled for
  the key (cache misses of Spark's compiled-class cache). The record's
  top-level ``codegen.classes_compiled`` counts the whole run, warm-up
  included: the distinct classes the keys generate, while the cache
  (``session.CODEGEN_CACHE_ENTRIES``) holds them all.

Keys run in the order given, by default every registry key in registry
order. Family-staged keys (a10-a12 ZIP corpus, table-layer keys, i16/i17
feeds) memoize their staging per process, so the first key of a family
pays it, as in a driver soak. With ``--repeat N`` each key runs N times
back to back; ``wall_s`` is the fastest run and every other figure is the
last run's. A failing key is recorded with its error and the run goes on;
the exit status is then 1.

``--diff A B`` prints, per key in both profiles, each metric of A and B
and the ratio B/A: two scales of one corpus (``tools/scale_audit.py gen``
builds an sf1 corpus) give per-key growth, two commits give before/after.

``--audit P`` checks every key's plan in profile ``P`` for the plan
anti-patterns the 100 TB design forbids (``ANTI``; a pair in ``ALLOW``
is a by-design exception with its reason) and writes the report, the
key's shuffle-exchange count and Python stages per key, to ``--out`` or
stdout; the exit status is 1 if a key's plan has a violation or the key
failed. ``docs/PLAN_AUDIT.md`` is this report over every key at sf0.001:

    python tools/profile.py --sf-dir SF0.001_DIR --out P.json
    python tools/profile.py --audit P.json --out docs/PLAN_AUDIT.md

The formatted plan of each key is the record's ``plan`` field, e.g.
``jq -r .keys.a21.plan P.json > plans/r11/a21_after.txt``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# pyspark imports cProfile, which imports the stdlib's `profile`: keep
# this script's directory off sys.path so that import finds the stdlib
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from tools.scale_audit import SRC  # noqa: E402  the sf0.1 corpus

WARMUP_KEY = "d1"
PHASE_BUILD = "queries.build"
# event-log counter -> metric name (perfbench/run.py's names)
EVENT_METRICS = {
    "jobs": "exec.jobs", "stages": "exec.stages", "tasks": "exec.tasks",
    "task_run_ms": "exec.task_run_ms", "task_cpu_ms": "exec.task_cpu_ms",
    "gc_ms": "exec.gc_ms", "scheduler_wait_ms": "exec.scheduler_wait_ms",
    "input_rows": "exec.input_rows",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "shuffle_read_bytes": "exec.shuffle_read_bytes",
    "spill_bytes": "exec.spill_bytes",
    "py_sent": "python.bytes_to_worker",
    "py_received": "python.bytes_from_worker",
    "python_stage_run_ms": "python.stage_run_ms",
}


# Plan anti-patterns: quadratic row movement and row-at-a-time Python.
ANTI = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
# Arrow-vectorized Python stages, listed for information
INFO = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)
_ONE_ROW = (
    "broadcast crossJoin of a 1-row aggregate (corpus size / threshold / "
    "global total) — O(n) rows move, not O(n²)"
)
# (key, pattern) pairs that are by-design exceptions, with the reason the
# report renders
ALLOW: dict[tuple[str, str], str] = {
    ("c9", "BroadcastNestedLoopJoin"): "non-equi range join vs a bounded "
    "broadcast dim — the declared at-scale rule is in the c9 docstring",
    ("c7", "BroadcastNestedLoopJoin"): "the DECLARED cross-join key, "
    "restricted to fixed-cardinality dims (region 5 × nation 25)",
    ("h21", "BroadcastNestedLoopJoin"): "registry-bounded broadcast fuzzy "
    "self-join (distinct registry, not the corpus)",
    ("j3", "BroadcastNestedLoopJoin"): _ONE_ROW + " (the query vector "
    "and its norm)",
    ("j4", "BroadcastNestedLoopJoin"): "broadcast single-row centroid "
    "bound table for IVF probe pruning",
    ("j5", "BroadcastNestedLoopJoin"): _ONE_ROW,
    ("j12", "BroadcastNestedLoopJoin"): _ONE_ROW,
    ("j17", "BroadcastNestedLoopJoin"): "broadcast centroid row for IVF "
    "cell assignment (n_cells≈√n rows, map-side)",
    ("j24", "BroadcastNestedLoopJoin"): _ONE_ROW,
    ("j28", "BroadcastNestedLoopJoin"): "broadcast stored-centroid table "
    "(IVF index metadata, bounded by n_cells)",
    ("j29", "BroadcastNestedLoopJoin"): _ONE_ROW + " (funnel audit rows)",
    ("j30", "BroadcastNestedLoopJoin"): "broadcast language n-gram "
    "profiles (top-40 per language, bounded)",
    ("j31", "BroadcastNestedLoopJoin"): "broadcast centroid row for IVF "
    "cell assignment (k-NN join index, bounded)",
    ("j37", "BroadcastNestedLoopJoin"): "broadcast centroid-PAIR bound "
    "table (n_cells² rows of 2 doubles — tiny; prunes the corpus join)",
    ("j38", "BroadcastNestedLoopJoin"): _ONE_ROW + " (vocab size for "
    "Laplace smoothing)",
    ("j41", "BroadcastNestedLoopJoin"): _ONE_ROW + " (corpus-wide int8 "
    "quantization scale)",
    ("j42", "BroadcastNestedLoopJoin"): _ONE_ROW + " (corpus stats N/avgdl "
    "and the 1-row df table)",
    ("m10", "BroadcastNestedLoopJoin"): _ONE_ROW + " (the mixture-weight "
    "normalizer z — one decimal-exact sum row against bounded sources)",
    ("j43", "BroadcastNestedLoopJoin"): "broadcast centroid-pair bound "
    "table via the shared j37 pair stage (bounded by n_cells²)",
    ("j48", "BroadcastNestedLoopJoin"): "broadcast single-row PQ codebook "
    "array (m*kc codewords, driver-sized by construction) for map-side "
    "encoding",
    ("m4", "BroadcastNestedLoopJoin"): _ONE_ROW + " (sampling fraction)",
    ("m8", "BroadcastNestedLoopJoin"): "range predicate vs the 3-row "
    "broadcast fold table (rolling-origin CV) — bounded dim by design",
    ("o12", "BroadcastNestedLoopJoin"): _ONE_ROW + " (series n/sum/sumsq "
    "stats for the CUSUM threshold)",
    ("n11", "BroadcastNestedLoopJoin"): _ONE_ROW + " (trade-graph scale-"
    "free edge threshold Σn)",
    ("n6", "BroadcastNestedLoopJoin"): _ONE_ROW + " (pagerank roster × "
    "1-row node count; visible in the plan since r10 dropped the "
    "per-round eager checkpoints that used to hide it)",
    ("n16", "BroadcastNestedLoopJoin"): _ONE_ROW + " (pagerank roster × "
    "1-row node count and seed count — same shape as n6)",
    ("q11", "BroadcastNestedLoopJoin"): _ONE_ROW + " (TPC-H Q11 global "
    "value threshold)",
    ("q22", "BroadcastNestedLoopJoin"): _ONE_ROW + " (TPC-H Q22 global "
    "avg balance)",
    ("k1", "BatchEvalPython"): "k1's declared surface IS the row-at-a-time "
    "Python UDF boundary (the slow-path contrast for k2+)",
    ("k6", "BatchEvalPython"): "Python UDTFs execute as BatchEvalPython "
    "by Spark design — k6 is the declared UDTF surface",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--keys", default="", help="comma-separated; default all")
    ap.add_argument("--sf-dir", default=SRC)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--out", help="write the JSON record here")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="compare two profiles instead of running")
    ap.add_argument("--audit", metavar="P",
                    help="write the plan audit of profile P instead of running")
    args = ap.parse_args(argv)
    if args.repeat < 1:
        ap.error("--repeat must be at least 1")
    return args


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / total, 2) if total else 0.0


def classes_compiled(spark) -> int:
    """Generated classes compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def run_key(spark, tracer, fn, key: str, sf_dir: str, tag: str) -> dict:
    """One build + explain + noop write of ``key``, its jobs tagged ``tag``."""
    sc = spark.sparkContext
    compiled0 = classes_compiled(spark)
    sc.setJobDescription(f"profile:{key}")
    sc.setLocalProperty(tracing.OP_PROP, tag)
    sc.setLocalProperty(tracing.PHASE_PROP, PHASE_BUILD)
    try:
        with tracer.span(PHASE_BUILD, op=tag):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
        sc.setLocalProperty(tracing.PHASE_PROP, "exec")
        plan = sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        phases = tracing.catalyst_phases(spark, df)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        write_s = time.perf_counter() - t0
    finally:
        for prop in (tracing.OP_PROP, tracing.PHASE_PROP):
            sc.setLocalProperty(prop, None)
        sc.setJobDescription(None)
    del df  # what the query pinned or cut is released with its frame
    gc.collect()
    return {
        "wall_s": round(build_s + write_s, 3),
        "queries.build_ms": round(build_s * 1e3, 1),
        "queries.py4j_calls": tracer.spans[-1]["py4j"],
        **{f"catalyst.{p}_ms": ms for p, ms in sorted(phases.items())},
        "exec.noop_write_ms": round(write_s * 1e3, 1),
        "exec.persisted_rdds_after": sc._jsc.getPersistentRDDs().size(),
        "exec.cached_plans_after": spark._jsparkSession.sharedState()
        .cacheManager().numCachedEntries(),
        "codegen.classes_compiled": classes_compiled(spark) - compiled0,
        "plan": plan,
    }


def run_keys(queries, keys, sf_dir, repeat, events) -> tuple[dict, int, int]:
    """Each key's record (event-log counters still to add), the
    session's cores and the classes the run compiled; the session logs
    its events to ``events``."""
    from scopus_spark.session import get_spark

    spark = get_spark(app_name="profile", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = tracing.Tracer(True)
    tracer.count_py4j()
    records: dict[str, dict] = {}
    try:
        queries[WARMUP_KEY](spark, sf_dir).write.mode("overwrite").format(
            "noop").save()
        for key in keys:
            walls, cpu0 = [], cpu_times()
            try:
                for i in range(repeat):
                    rec = run_key(spark, tracer, queries[key], key, sf_dir,
                                  f"{key}:{i}")
                    walls.append(rec["wall_s"])
            except Exception as e:  # recorded; the run goes on
                traceback.print_exc()
                msg = str(e).strip().splitlines()
                records[key] = {"error": f"{type(e).__name__}: {msg[0][:300] if msg else ''}"}
                print(f"{key}: ERROR {records[key]['error']}", flush=True)
                continue
            rec.update(wall_s=min(walls), steal_pct=steal_pct(cpu0, cpu_times()),
                       load1=round(os.getloadavg()[0], 2))
            records[key] = rec
            print(f"{key}: {rec['wall_s']} s py4j={rec['queries.py4j_calls']} "
                  f"steal={rec['steal_pct']}%", flush=True)
        return (records, spark.sparkContext.defaultParallelism,
                classes_compiled(spark))
    finally:
        tracer.close()
        spark.stop()  # flushes and closes the event log


def profile(keys: list[str], sf_dir: str, repeat: int) -> dict:
    from scopus_spark import registry
    from scopus_spark._vendor import ensure_protobuf

    queries = registry.all_queries()
    missing = [k for k in keys if k not in queries]
    if missing:
        raise SystemExit(f"unknown keys {missing}")
    # Python workers unpickle functions that reference the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    ensure_protobuf()  # before the JVM: transformWithState keys need it
    load_start, steal0 = os.getloadavg(), cpu_times()
    events = tempfile.mkdtemp(prefix="scopus_profile_events_")
    try:
        records, spark_cores, compiled = run_keys(
            queries, keys, sf_dir, repeat, events)
        counters = tracing.parse_event_log(events)
    finally:
        shutil.rmtree(events, ignore_errors=True)
    for key, rec in records.items():
        if "error" in rec:
            continue
        tag = f"{key}:{repeat - 1}"  # the last run's jobs
        per_phase = [c for (op, _ph), c in counters.items() if op == tag]
        rec["queries.eager_jobs"] = counters.get((tag, PHASE_BUILD), {}).get("jobs", 0)
        for name, metric in EVENT_METRICS.items():
            rec[metric] = sum(c[name] for c in per_phase)
        rec["exec.task_cpu_ms"] = round(rec["exec.task_cpu_ms"], 1)
    return {
        "sf_dir": sf_dir, "repeat": repeat,
        "cpus": len(os.sched_getaffinity(0)), "spark_cores": spark_cores,
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "steal_pct": steal_pct(steal0, cpu_times()),
        "codegen.classes_compiled": compiled,
        "keys": records,
    }


def diff(a: dict, b: dict) -> dict[str, dict[str, list]]:
    """Per key in both profiles: {metric: [A, B, B/A]} over the numeric
    metrics both recorded (ratio None where A is 0)."""
    out: dict[str, dict[str, list]] = {}
    for key, ra in a["keys"].items():
        rb = b["keys"].get(key)
        if rb is None:
            continue
        out[key] = {
            m: [va, rb[m], round(rb[m] / va, 3) if va else None]
            for m, va in ra.items()
            if isinstance(va, (int, float)) and isinstance(rb.get(m), (int, float))
            and (va or rb[m])
        }
    return out


def _key_order(key: str):
    return key[0], int(key[1:]) if key[1:].isdigit() else 0


def audit_plan(key: str, plan: str) -> tuple[int, list[str], list[str]]:
    """(shuffle exchanges, report flags, violated patterns) of one key's
    formatted plan. Exchanges are counted once per plan node (the
    formatted plan's numbered node details), reused exchanges not."""
    flags, violations = [], []
    for pat in ANTI:
        if pat in plan:
            if (key, pat) in ALLOW:
                flags.append(f"{pat} (allowed)")
            else:
                flags.append(f"{pat} **VIOLATION**")
                violations.append(pat)
    flags += [p.replace("FlatMapGroupsInPandas", "applyInPandas")
              for p in INFO if p in plan]
    n_exchange = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    return n_exchange, flags, violations


def audit(prof: dict) -> tuple[str, int]:
    """The plan-audit report of a profile, and its violation count (a key
    that failed counts as one)."""
    rows, violations = [], []
    for key in sorted(prof["keys"], key=_key_order):
        rec = prof["keys"][key]
        if "error" in rec:
            rows.append((key, "ERROR", rec["error"][:100]))
            violations.append((key, "PROFILE_ERROR"))
            continue
        nex, flags, bad = audit_plan(key, rec["plan"])
        rows.append((key, str(nex), "; ".join(flags) or "—"))
        violations += [(key, pat) for pat in bad]
    out = [
        "# Physical-plan hygiene audit (generated by tools/profile.py --audit)",
        "",
        f"Corpus: `{os.path.basename(prof['sf_dir'])}` — {len(rows)} keys. Anti-patterns "
        "checked in each key's formatted plan: " + ", ".join(ANTI) + ". "
        "Python stages (Arrow-vectorized) listed informationally; the "
        "`exchanges` column is the key's shuffle budget (diff it across "
        "rounds).",
        "",
        "Allow-list (by-design exceptions):",
        *[f"- `{k}` / {pat}: {why}" for (k, pat), why in sorted(ALLOW.items())],
        "",
        "| key | exchanges | python stages / flags |",
        "| --- | --- | --- |",
        *[f"| {key} | {nex} | {flags} |" for key, nex, flags in rows],
        "",
    ]
    if violations:
        out += ["## VIOLATIONS", *[f"- **{k}**: {pat}" for k, pat in violations]]
    else:
        out.append("**No violations: every non-allow-listed plan is free of "
                   "cartesians, nested-loop joins, and row-at-a-time Python.**")
    return "\n".join(out) + "\n", len(violations)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.audit:
        with open(args.audit) as fh:
            report, n_bad = audit(json.load(fh))
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(report)
        else:
            print(report, end="")
        return 1 if n_bad else 0
    if args.diff:
        with open(args.diff[0]) as fa, open(args.diff[1]) as fb:
            result = diff(json.load(fa), json.load(fb))
        for key, metrics in result.items():
            for m, (va, vb, ratio) in metrics.items():
                print(f"{key:6s} {m:28s} {va:>14.6g} {vb:>14.6g} "
                      f"{'-' if ratio is None else f'{ratio:.3f}x':>9s}")
        failed = False
    else:
        from scopus_spark import registry

        keys = [k.strip() for k in args.keys.split(",") if k.strip()] or list(
            registry.all_queries())
        result = profile(keys, args.sf_dir, args.repeat)
        failed = any("error" in r for r in result["keys"].values())
        print(f"load {result['load_start'][0]} -> {result['load_end'][0]}, "
              f"steal {result['steal_pct']}%")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

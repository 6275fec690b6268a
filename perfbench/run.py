"""scopus_spark benchmark: closed-loop, single-client workloads, hash-checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

Workloads (perfbench/workloads.py; BENCHMARK.json lists the first two):
  headline       the ten BASELINE.md queries on an sf0.1 corpus
  llm_python     Arrow/Python-worker keys on the sf0.1 corpus
  table_commits  merge/append/delete_keys/compact/vacuum commits on a
                 VersionedTable of orders, each followed by a read

The corpus (perfbench/corpus.py) is generated from a fixed seed and
cached under ``.perfbench/corpus``; ``--seed`` sets the operation order
of every pass and the table_commits deltas. Each run:

1. sets up once from a cold start (launch the JVM and start the
   session, register the views, prepare the workload), then runs one
   full warm-up pass;
2. with ``--trace 0`` runs whole passes for ``--seconds``, and at least
   three, and prints the end-to-end metrics; with ``--trace 1`` runs a
   second warm-up pass, then traced passes (spans, py4j round trips,
   Catalyst phases and a Spark event log tagged per operation) and
   untraced passes in turn, pairs until half of ``--seconds`` has
   elapsed (at least one pair), and prints the per-layer metrics;
3. checks every operation's result against DuckDB and exits 1 when one
   failed or differed.

End-to-end metrics: ``setup_s`` is the cold setup plus the warm-up
pass; ``total_s`` sums each operation's median latency (plan
build + collect, or one commit); ``correct_ratio`` is the share of
operations that ran and matched DuckDB.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Per-layer values are per pass (summed over
the pass's operations) and the median over traced passes, except the
session/catalog times (of the one setup) and the ratios. Spans
and per-operation counters of a traced run go to
``.perfbench/out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from types import SimpleNamespace

import numpy as np

import corpus
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MANIFEST_OPS = ("merge", "append", "delete_keys", "compact", "vacuum")
# The first pass after the warm-up still runs ~30% slower (JIT); with
# three passes each operation's median no longer depends on it.
MIN_PASSES = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="corpus scale factor")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt one expected digest")
    return ap.parse_args(argv)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args):
        self.args = args
        self.failed = 0
        self.wrong = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)  # untraced
        self.ops: set[str] = set()  # every operation name attempted
        self.op_records: list[dict] = []
        self.pass_index = 0

    # -- one operation / one pass ---------------------------------------------

    def run_op(self, ctx, wl, op: str, tag: str, record: bool) -> float | None:
        sc = ctx.spark.sparkContext
        self.attempted += 1
        self.ops.add(op)
        try:
            arg = wl.before(ctx, op)
            sc.setJobDescription(f"bench:{wl.name}:{op}:{tag}")
            if self.args.trace:
                sc.setLocalProperty(tracing.OP_PROP, f"{op}:{tag}")
            with ctx.tracer.span("op", op=f"{op}:{tag}"):
                t0 = time.perf_counter()
                res = wl.timed(ctx, op, arg)
                dt = time.perf_counter() - t0
            ok = wl.check(ctx, op, arg, res)
        except Exception as e:  # every failure is counted, never skipped
            self.failed += 1
            self.errors.append(f"{op}:{tag}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        if not ok:
            self.wrong += 1
            self.errors.append(f"{op}:{tag}: result differs from DuckDB")
        if ctx.tracer.enabled:
            rec = {"op": op, "pass": tag, "wall_ms": dt * 1e3, "rows": len(res.rows),
                   "persisted_rdds": sc._jsc.getPersistentRDDs().size()}
            if res.df is not None:
                rec["catalyst"] = tracing.catalyst_phases(ctx.spark, res.df)
            self.op_records.append(rec)
        elif record:
            self.samples[op].append(dt)
        return dt

    def run_pass(self, ctx, wl, tag: str, record: bool) -> float:
        ctx.rng = np.random.default_rng([self.args.seed, self.pass_index])
        order_rng = random.Random(self.args.seed * 100_003 + self.pass_index)
        self.pass_index += 1
        ctx.pass_tag = tag
        total = 0.0
        for op in wl.ops(order_rng):
            dt = self.run_op(ctx, wl, op, tag, record)
            total += dt or 0.0
        return total

    def passes(self, ctx, wl, seconds: float) -> list[float]:
        """Measured passes until ``seconds`` have elapsed and at least
        MIN_PASSES have run."""
        totals = []
        t0 = time.perf_counter()
        while len(totals) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            totals.append(self.run_pass(ctx, wl, f"m{len(totals)}", record=True))
        return totals


def op_stats(samples: dict[str, list[float]], ops: set[str]) -> dict:
    """total_s (sum of per-operation medians) and the pooled latency
    percentiles. The workloads mix operations whose latencies differ
    fourfold, so with a few dozen samples a pooled percentile jumps from
    one operation to another between runs: the percentiles are printed as
    labels, with their sample counts, not gated.

    An operation that never succeeded has no median and is listed in
    ``without_samples``; total_s then covers the others only, and the
    run is already failed by the operation's failures."""
    per_op = {k: statistics.median(v) for k, v in sorted(samples.items()) if v}
    pooled = sorted(x for v in samples.values() for x in v)
    if len(pooled) >= 2:
        p50, p90 = statistics.median(pooled), statistics.quantiles(pooled, n=10, method="inclusive")[8]
    else:
        p50 = p90 = pooled[0] if pooled else 0.0
    return {
        "total_s": sum(per_op.values()),
        "per_op_median_s": per_op,
        "without_samples": sorted(ops - per_op.keys()),
        "pooled": {"samples": len(pooled), "p50_s": p50, "p90_s": p90,
                   "above_p90": sum(1 for x in pooled if x > p90)},
    }


def layer_metrics(bench, tracer, events, wl, ctx, setup) -> tuple[dict, list]:
    """Per-layer metrics (per traced pass, median over passes)."""
    spans = tracer.self_times()
    by_pass: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        op = s["op"] or ""
        if ":" not in op or not op.split(":", 1)[1].startswith("t"):
            continue
        p = by_pass[op.split(":", 1)[1]]
        name = s["name"]
        if name == "queries.build":
            p["queries.build_ms"] += s["self"] * 1e3
            p["queries.py4j_calls"] += s["py4j"]
        elif name == "exec.collect":
            p["exec.collect_ms"] += s["self"] * 1e3
        elif name.startswith("manifest.") and name[9:] in MANIFEST_OPS:
            p[f"manifest.commit_ms.{name[9:]}"] += s["dur"] * 1e3
    per_op = []
    for rec in bench.op_records:
        p = by_pass[rec["pass"]]
        for phase, ms in (rec.get("catalyst") or {}).items():
            p[f"catalyst.{phase}_ms"] += ms
        p["exec.result_rows"] += rec["rows"]
        p["exec.persisted_rdds_after"] = max(p["exec.persisted_rdds_after"], rec["persisted_rdds"])
        p["wall_ms"] += rec["wall_ms"]
        if rec["op"].startswith("read."):
            p["manifest.read_after_commit_ms"] += rec["wall_ms"]
        ev = [c for (o, _ph), c in events.items() if o == f"{rec['op']}:{rec['pass']}"]
        build = [span for span in spans if span["name"] == "queries.build"
                 and span["op"] == f"{rec['op']}:{rec['pass']}"]
        per_op.append({"op": rec["op"], "pass": rec["pass"],
                       "py4j_calls": sum(b["py4j"] for b in build),
                       "jobs": sum(c["jobs"] for c in ev),
                       "stages": sum(c["stages"] for c in ev),
                       "tasks": sum(c["tasks"] for c in ev)})
    for (op_tag, phase), c in events.items():
        tag = op_tag.rsplit(":", 1)[1]
        if tag not in by_pass:
            continue
        p = by_pass[tag]
        p["python.bytes_to_worker"] += c["py_sent"]
        p["python.bytes_from_worker"] += c["py_received"]
        p["python.stage_run_ms"] += c["python_stage_run_ms"]
        if phase == "queries.build":
            p["queries.eager_jobs"] += c["jobs"]
            continue
        if phase.startswith("manifest.") and phase[9:] in MANIFEST_OPS:
            p["manifest.commit_jobs"] += c["jobs"]
        p["exec.jobs"] += c["jobs"]
        p["exec.stages"] += c["stages"]
        for k in ("tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "scheduler_wait_ms",
                  "input_rows", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            p[f"exec.{k}"] += c[k]
    for rec in getattr(wl, "io", []):
        p = by_pass.get(rec["pass"])
        if p is None:
            continue
        p["manifest.bytes_written"] += rec["bytes_written"]
        p["manifest.files_written"] += rec["files_written"]
        if rec["op"] in ("merge", "append", "delete_keys"):
            p["_amp_written"] += rec["bytes_written"]
            p["_amp_delta"] += rec["delta_bytes"]
    cores = ctx.spark_cores
    for p in by_pass.values():
        p["exec.slot_busy_ratio"] = p["exec.task_run_ms"] / (p["wall_ms"] * cores) if p["wall_ms"] else 0.0
        p["manifest.write_amp"] = p["_amp_written"] / p["_amp_delta"] if p["_amp_delta"] else 0.0

    def med(name):
        vals = [p.get(name, 0.0) for p in by_pass.values()]
        return float(statistics.median(vals)) if vals else 0.0

    out = {
        "session.start_s": setup["session_s"],
        "catalog.register_s": setup["register_s"],
    }
    for name, _unit in LAYER_METRICS[2:-1] + MANIFEST_METRICS[:-1]:
        out[name] = med(name)
    out["manifest.bytes_stored_per_live_byte"] = ctx.stored_ratio
    out["exec.jvm_peak_rss_mb"] = ctx.rss_mb
    return out, per_op


LAYER_METRICS = [
    ("session.start_s", "s"), ("catalog.register_s", "s"),
    ("queries.build_ms", "ms"), ("queries.py4j_calls", "count"), ("queries.eager_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("exec.collect_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.scheduler_wait_ms", "ms"), ("exec.slot_busy_ratio", "ratio"),
    ("exec.input_rows", "count"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.result_rows", "count"), ("exec.persisted_rdds_after", "count"),
    ("python.bytes_to_worker", "bytes"), ("python.bytes_from_worker", "bytes"),
    ("python.stage_run_ms", "ms"),
    # the driver JVM holds the executors in local mode; its peak RSS moved
    # 10-20% between runs on a loaded 4-core machine, too much for a
    # bounded end-to-end metric
    ("exec.jvm_peak_rss_mb", "MB"),
]
# table_commits only
MANIFEST_METRICS = [
    *((f"manifest.commit_ms.{k}", "ms") for k in MANIFEST_OPS),
    ("manifest.commit_jobs", "count"), ("manifest.bytes_written", "bytes"),
    ("manifest.files_written", "count"), ("manifest.write_amp", "ratio"),
    ("manifest.read_after_commit_ms", "ms"), ("manifest.bytes_stored_per_live_byte", "ratio"),
]

END_TO_END = [("setup_s", "s"), ("total_s", "s"), ("correct_ratio", "ratio")]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from scopus_spark.catalog import register_views
        from scopus_spark.session import get_spark
        import workloads
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()

    load_start = os.getloadavg()
    steal0 = cpu_times()
    run_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, d))
    # Python workers import the engine (mapInPandas/UDF pickles reference it)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    sf_dir, gen_s = corpus.ensure(os.path.join(WORK, "corpus"), args.sf)
    t0 = time.perf_counter()
    wl.corrupt = args.corrupt_expected
    wl.expect(sf_dir)
    oracle_s = time.perf_counter() - t0

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    bench = Bench(args)
    ctx = SimpleNamespace(sf_dir=sf_dir, work_dir=run_dir, spark=None, rng=None,
                          pass_tag="", stored_ratio=0.0, rss_mb=0.0)
    tracer = tracing.Tracer(bool(args.trace))
    ctx.tracer = tracer
    spark = None
    try:
        # one cold setup: the JVM launch is part of what a user waits for.
        # It is not repeated within a run: a second cold start costs
        # another 10-12 s on four cores, more than the benchmark's time
        # budget holds, and a restart inside the warm JVM would leave out
        # the launch.
        with tracer.span("setup", op="setup:0"):
            a = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
            b = time.perf_counter()
            with tracer.span("catalog.register_views"):
                register_views(spark, sf_dir, force=True)
            c = time.perf_counter()
            ctx.spark = spark
            with tracer.span("prepare"):
                wl.prepare(ctx)
            d = time.perf_counter()
        setup = {"session_s": b - a, "register_s": c - b, "prepare_s": d - c, "total_s": d - a}
        ctx.spark_cores = spark.sparkContext.defaultParallelism
        if args.trace:
            sc = spark.sparkContext
            tracer.on_enter = lambda name: sc.setLocalProperty(tracing.PHASE_PROP, name)
        tracer.enabled = False
        warm_t0 = time.perf_counter()
        bench.run_pass(ctx, wl, "w", record=False)
        warmup_s = time.perf_counter() - warm_t0

        if args.trace:
            # a second, unreported warm-up pass, then traced and untraced
            # passes in turn, so trace.overhead_pct compares warm passes
            bench.run_pass(ctx, wl, "w1", record=False)
            traced, untraced = [], []
            t0 = time.perf_counter()
            while not traced or time.perf_counter() - t0 < args.seconds / 2:
                tracer.enabled = True
                tracer.count_py4j()
                traced.append(bench.run_pass(ctx, wl, f"t{len(traced)}", record=False))
                tracer.enabled = False
                tracer.close()
                untraced.append(bench.run_pass(ctx, wl, f"u{len(untraced)}", record=False))
        else:
            untraced = bench.passes(ctx, wl, args.seconds)
        final_checks = wl.finish(ctx)
        bench.attempted += len(final_checks)
        bench.wrong += sum(1 for ok in final_checks if not ok)
        if not all(final_checks):
            bench.errors.append("final snapshot differs from DuckDB replay")
        if hasattr(wl, "stored_per_live_byte"):
            ctx.stored_ratio = wl.stored_per_live_byte()
        ctx.rss_mb = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_jvm(spark)
        tracer.close()

    steal1 = cpu_times()
    d_total = steal1[1] - steal0[1]
    labels = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "cpus": nproc, "spark_cores": ctx.spark_cores,
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "steal_pct": round(100.0 * (steal1[0] - steal0[0]) / d_total, 3) if d_total else 0.0,
        "corpus_gen_s": round(gen_s, 3), "oracle_s": round(oracle_s, 3),
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "warmup_s": round(warmup_s, 3), "jvm_peak_rss_mb": round(ctx.rss_mb, 1),
        "attempted": bench.attempted, "failed": bench.failed, "wrong": bench.wrong,
        "error_rate": (bench.failed + bench.wrong) / bench.attempted,
        "errors": bench.errors[:20],
    }
    setup_s = setup["total_s"] + warmup_s
    if args.trace:
        events = tracing.parse_event_log(os.path.join(run_dir, "events"))
        layers, per_op = layer_metrics(bench, tracer, events, wl, ctx, setup)
        traced_total = statistics.median(traced)
        untraced_total = statistics.median(untraced)
        labels["trace.overhead_pct"] = round(100.0 * (traced_total / untraced_total - 1.0), 2)
        labels["traced_passes"], labels["untraced_passes"] = len(traced), len(untraced)
        out_dir = os.path.join(WORK, "out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"labels": labels, "metrics": layers, "per_op": per_op,
                       "spans": tracer.self_times(), "io": getattr(wl, "io", [])}, fh)
        labels["trace_file"] = os.path.relpath(trace_path, ROOT)
        names = LAYER_METRICS + (MANIFEST_METRICS if hasattr(wl, "io") else [])
        metrics = {name: {"value": float(layers[name]), "unit": unit} for name, unit in names}
        counts = {name: len(traced) for name, _ in names}
    else:
        st = op_stats(bench.samples, bench.ops)
        labels["per_op_median_s"] = {k: round(v, 4) for k, v in st["per_op_median_s"].items()}
        labels["per_op_samples_s"] = {k: [round(x, 4) for x in v] for k, v in sorted(bench.samples.items())}
        labels["ops_without_samples"] = st["without_samples"]
        labels["pooled_op_latency"] = {k: round(v, 4) for k, v in st["pooled"].items()}
        labels["pass_totals_s"] = [round(x, 3) for x in untraced]
        values = {"setup_s": setup_s, "total_s": st["total_s"],
                  "correct_ratio": 1.0 - labels["error_rate"]}
        counts = {"setup_s": 1, "total_s": st["pooled"]["samples"],
                  "correct_ratio": bench.attempted}
        metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END}

    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']:6s} samples={counts[name]}")
    print(json.dumps({"labels": labels}))
    bad = bench.failed + bench.wrong
    print(json.dumps({"correct": bad == 0, "attempted": bench.attempted,
                      "failed": bad, "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

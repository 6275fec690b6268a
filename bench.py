"""Benchmark harness — BASELINE.md's 10-query headline set on sf0.1.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (round 7, after the r4->r6 drift bisect in PERF.md): one FULL
warm-up pass over every headline query first — warming per query
immediately before timing it (the old shape) times the first queries on a
cold JIT and the last on a hot one, which is exactly the uniform
"per-query fixed overhead" the round-6 verdict saw drifting. Then per
query 5 timed runs; the headline value stays the MEDIAN total (comparable
to BASELINE.md and BENCH_r1-r6), with min-of-5 reported alongside so
box contention is visible in the artifact itself (an idle box shows
median ~ min; a loaded one shows median >> min).

Session startup and view registration excluded from timings (as in
BASELINE.md). Result fully collected to the driver.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all).
CLI: --out FILE also writes the JSON line to FILE (the idle-rerun
     artifact the round close-out stores next to the driver's BENCH_r{N}
     so round-over-round comparison is not noise-limited).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scopus_spark import registry  # noqa: E402
from scopus_spark.catalog import register_views  # noqa: E402
from scopus_spark.session import get_spark  # noqa: E402


# BASELINE.md metric name -> SURVEY §2 registry key
HEADLINE: dict[str, str] = {
    "q1_pricing_summary": "d2",
    "q3_shipping_priority": "q3",
    "q5_local_supplier": "c8",
    "q6_forecast_revenue": "d1",
    "topk_per_group_window": "e1",
    "sessionize_events": "i1",
    "json_extract_events": "h9",
    "vector_topk_bruteforce": "j3",
    "dedup_documents": "j1",
    "grouping_sets_rollup": "d9",
}

N_RUNS = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # co-tenant load poisons wall-clock medians (PERF.md documents a
    # 7.4 -> 3.9 s decay as a neighboring suite drained); record the
    # 1-min load average so the artifact carries its own noise label —
    # a run with load_start > 1 should be re-run, not compared
    load_start = os.getloadavg()[0]
    spark = get_spark(app_name="scopus_spark_bench")
    # excluded from timings, as in BASELINE.md; one-row-group tables are
    # registered over their split layout (catalog.split_layout)
    register_views(spark, sf_dir)

    queries = registry.all_queries()
    plan = [(n, queries[k]) for n, k in HEADLINE.items() if k in queries]

    # Full warm-up pass: every query once, so JIT/code-cache state is the
    # same hot steady state for the first timed query as for the last.
    for _, fn in plan:
        fn(spark, sf_dir).collect()

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    for name, fn in plan:
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 4)
        timings_min[name] = round(min(runs), 4)

    load_end = os.getloadavg()[0]
    line = json.dumps(
        {
            "metric": "headline_total_median",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "value_min": round(sum(timings_min.values()), 4),
            "queries_min": timings_min,
            "sf": sf,
            # the session's core count and the registered lineitem file
            # count, so a scaling artifact is self-describing
            "cpus": spark.sparkContext.defaultParallelism,
            "bench_splits": len(spark.table("lineitem").inputFiles()),
            # load at session start / after the timed runs; "loaded"
            # flags a co-tenant-noisy artifact (don't grade it raw)
            "load_start": round(load_start, 2),
            "load_end": round(load_end, 2),
            "loaded": bool(load_start > 1.0),
        }
    )
    print(line)
    if "--out" in sys.argv:
        with open(sys.argv[sys.argv.index("--out") + 1], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()

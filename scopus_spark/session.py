"""SparkSession factory + session-level configuration (SURVEY.md §2.0 C4).

Two entry paths:

- ``get_spark()``         — build our own session (tests, bench).
- ``configure(spark)``    — apply the runtime-settable engine configs to a
  session we did NOT build (the driver hands us one). All configs below are
  Spark *SQL* configs, which are runtime-settable; nothing here requires a
  restart.

Two static confs are set by ``get_spark`` only, because ``configure``
cannot set them on a running context:

- ``spark.python.daemon.module`` names ``scopus_spark.pydaemon``
  (stat-guarded zip importers, see that module). On a cluster set it
  only where ``scopus_spark`` is installed on the executors. Never with
  ``--py-files``: py-files reach a worker per task, after the daemon
  has started.
- ``spark.sql.codegen.cache.maxEntries`` (``CODEGEN_CACHE_ENTRIES``)
  sizes the generated-class cache to the engine's working set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL configs every engine session needs (SURVEY §2.0 C4).
SQL_CONFS: dict[str, str] = {
    # G3: corpus timestamps are tz-naive; DuckDB treats them as such.
    "spark.sql.session.timeZone": "UTC",
    # G1: events.ts is INT64 TIMESTAMP(NANOS) parquet; Spark 4 hard-errors
    # without this. The loader converts to a proper timestamp (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every Python boundary (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bench tier: default 200 shuffle partitions wastes ~300ms/query on empty
    # tasks at sf<=0.1 (BASELINE.md). AQE coalescing handles the rest; at
    # cluster scale this is set per-deployment, not hardcoded.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # AQE on: runtime coalescing + skew-join splitting (100 TB safety valve).
    "spark.sql.adaptive.enabled": "true",
    # r10 (guide §1/§7.2): InferFiltersFromGenerate turns every
    # explode(expr) into an inferred `size(expr)>0 AND isnotnull(expr)`
    # filter, and predicate pushdown re-substitutes the FULL expression
    # below the parallelizing exchange — so explode over an expensive
    # per-row HOF chain (shingles, n-grams, trigram profiles) computed
    # the whole chain TWICE, once serialized onto the one-split scan
    # side (j22 plan: an 8 s single-task Filter carrying the inlined
    # 4-gram+md5 build). The inferred filter only prunes rows explode
    # would drop anyway; excluding the rule never changes results.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


# Spark's compiled-class cache holds 100 classes by default, and the 10
# headline keys alone generate 100, so every pass recompiled about half
# of them (0.4-0.6 s of Janino time per pass at sf0.1) and dropped their
# JIT-compiled code. One tools/profile.py sweep of the whole registry
# compiles 3,652 distinct classes; the cache holds them with headroom.
CODEGEN_CACHE_ENTRIES = 4096

STAGE_ROOT = "/tmp/scopus_spark_stage"
_SWEPT = False


def stage_dir(sf_dir: str, name: str) -> str:
    """This process's staging directory `name` for corpus `sf_dir`:
    ``<STAGE_ROOT>/<sf>/pid<N>/<name>``. Pid-scoped, so a concurrently
    running test session and driver pass never overwrite each other
    mid-read (and embedded Derby holds a JVM-exclusive lock on its db
    dir); sweep_stale_stage_dirs reclaims the ``pid<N>`` dir once its
    process is gone."""
    return os.path.join(
        STAGE_ROOT, os.path.basename(sf_dir.rstrip("/")), f"pid{os.getpid()}", name
    )


def sweep_stale_stage_dirs(root: str = STAGE_ROOT) -> list[str]:
    """Remove staging dirs left by DEAD driver processes. Every staged
    artifact is pid-scoped (``pid<N>`` / ``*_pid<N>`` under
    ``<root>/<sf>/``) so concurrent sessions never collide — but
    nothing ever pruned dirs whose owner exited, so a long-lived soak
    box slowly filled /tmp (r7 verdict hygiene item 3). A kill(pid, 0)
    probe identifies dead owners; live pids (including ours) are left
    alone. Returns the removed paths (for the unit test)."""
    import re
    import shutil

    removed: list[str] = []
    if not os.path.isdir(root):
        return removed
    pat = re.compile(r"(?:^|_)pid(\d+)$")
    for sf in os.listdir(root):
        sf_dir = os.path.join(root, sf)
        if not os.path.isdir(sf_dir):
            continue
        for entry in os.listdir(sf_dir):
            m = pat.search(entry)
            if not m:
                continue
            pid = int(m.group(1))
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
                continue  # owner alive — leave it
            except ProcessLookupError:
                pass  # dead: safe to reclaim
            except PermissionError:
                continue  # alive under another uid
            path = os.path.join(sf_dir, entry)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine SQL configs to an externally-created session."""
    global _SWEPT
    for k, v in SQL_CONFS.items():
        spark.conf.set(k, v)
    if not _SWEPT:
        _SWEPT = True  # once per process; staged dirs are pid-scoped
        sweep_stale_stage_dirs()
    return spark


def get_spark(
    app_name: str = "scopus_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession (local test/bench tier).

    On a real cluster the same SQL confs apply; master/memory come from the
    deployment (spark-submit / k8s), not from here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/scopus_spark_warehouse")
    )
    for k, v in SQL_CONFS.items():
        builder = builder.config(k, v)
    # Static confs (see the module docstring). Workers start as
    # `python -m scopus_spark.pydaemon`, so the directory holding the
    # package goes on their PYTHONPATH whatever the driver's cwd. Spark
    # merges it with the JVM's own PYTHONPATH, which keeps the vendored
    # protobuf entry that ensure_protobuf() exports.
    builder = (
        builder.config("spark.python.daemon.module", "scopus_spark.pydaemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session: re-assert runtime confs.
    configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark

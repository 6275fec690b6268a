"""One materialization module (scopus_spark/execution.py).

- No module outside execution.py calls persist, localCheckpoint,
  unpersist, cache or checkpoint (an AST check, with a positive control).
- The scope rules: a ``scope()`` releases its pins on exit; a query
  scope hands its pins to the returned frame and releases them when the
  frame is dropped, or at once when the build raises; cuts keep Spark's
  own lifetime.
- A long session over the keys that left state behind: after each key's
  frame is dropped, the CacheManager is empty, and j31's second call
  runs the jobs and tasks of its first.
"""

from __future__ import annotations

import ast
import gc
import os

import pytest
from pyspark.sql import functions as F

from scopus_spark import execution, registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "scopus_spark")
OWNER = os.path.join(PACKAGE, "execution.py")
VERBS = {"persist", "localCheckpoint", "unpersist", "cache", "checkpoint"}
QUERIES = registry.all_queries()
LONG_SESSION = ("j28", "j31", "j37", "j43", "j46", "j50", "n4", "n12", "d30", "d32")


def _raw_calls(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    return [
        f"{os.path.relpath(path, ROOT)}:{n.lineno} .{n.func.attr}()"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in VERBS
    ]


def _package_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(PACKAGE):
        dirs[:] = [x for x in dirs if x not in ("_vendor", "__pycache__")]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(p for p in out if p != OWNER)


def test_only_execution_materializes():
    files = _package_files()
    assert len(files) > 40, files  # the walk sees the package
    assert [c for p in files for c in _raw_calls(p)] == []


def test_the_guard_sees_each_verb(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def f(df):\n"
        "    a = df.persist()\n"
        "    b = df.localCheckpoint(eager=False)\n"
        "    df.select('x').cache().unpersist()\n"
        "    return df.checkpoint(), execution.pin(df), df.persisted\n"
    )
    assert sorted(c.split(" ", 1)[1] for c in _raw_calls(str(src))) == [
        ".cache()", ".checkpoint()", ".localCheckpoint()", ".persist()",
        ".unpersist()",
    ]


def _reset(spark):
    """Start from nothing materialized, whatever earlier tests left."""
    gc.collect()
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(rdds.keySet()):
        rdds.get(rdd_id).unpersist(True)


def _state(spark) -> tuple[bool, int]:
    """(CacheManager empty, persisted RDD count)."""
    gc.collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    return cache.isEmpty(), spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scope_releases_its_pins(spark):
    _reset(spark)
    with execution.scope():
        df = execution.pin(spark.range(100).withColumn("y", F.col("id") * 2))
        assert df.count() == 100
        assert _state(spark) == (False, 1)
    assert _state(spark) == (True, 0)


def _build(spark, fail=False):
    base = spark.range(50).withColumn("k", F.col("id") % 5)
    pinned = execution.pin(base.groupBy("k").count())
    with execution.scope():
        inner = execution.pin(base.filter("id > 10"))
        cut = execution.cut(inner.groupBy("k").agg(F.max("id").alias("m")), eager=True)
    if fail:
        raise RuntimeError("build failed")
    return pinned.join(cut, "k")


def test_query_scope_hands_its_pins_to_its_frame(spark):
    _reset(spark)
    df = execution.query(_build, spark)
    # the inner scope's pin is gone; the outer pin and the cut remain
    assert _state(spark) == (False, 1)
    derived = df.filter("k < 5")
    assert sorted(tuple(r) for r in df.collect()) == [
        (k, 10, 45 + k) for k in range(5)
    ]
    del df
    # the pin is released; the cut is not, so a derived frame still runs
    assert _state(spark) == (True, 1)
    assert derived.count() == 5


def test_a_build_that_raises_leaves_nothing(spark):
    _reset(spark)
    with pytest.raises(RuntimeError, match="build failed"):
        execution.query(_build, spark, True)
    assert _state(spark)[0]


def test_outside_a_query_scope_a_cut_keeps_spark_lifetime(spark):
    _reset(spark)
    df = execution.cut(spark.range(10), eager=True)
    assert df.count() == 10
    assert _state(spark) == (True, 1)
    _reset(spark)


def _run(spark, sf_dir, key: str, group: str) -> tuple[int, int]:
    """Build, collect and drop ``key``; its (jobs, tasks)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, key)
    try:
        df = QUERIES[key](spark, sf_dir)
        assert df.collect() is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    del df
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    tasks = 0
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(s)
            tasks += info.numCompletedTasks if info else 0
    return len(jobs), tasks


def test_nothing_outlives_its_query(spark, sf_dir):
    _reset(spark)
    runs = {}
    for key in LONG_SESSION:
        runs[key] = _run(spark, sf_dir, key, f"long-{key}")
        assert _state(spark)[0], key
    again = _run(spark, sf_dir, "j31", "long-j31-again")
    assert again == runs["j31"] and again[0] > 0, (runs["j31"], again)
    assert _state(spark)[0]

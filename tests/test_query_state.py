"""Queries keep no state between calls (ROADMAP direction 3): a first call
builds and runs exactly like every later one, nothing a query pins
outlives its frame, and the one per-session memo (which corpus a session
has registered) is keyed by the session object, never by its id."""

from __future__ import annotations

import gc
import shutil

import pytest
from pyspark.sql import functions as F

from perfbench import tracing
from scopus_spark import catalog, registry
from scopus_spark.catalog import register_views, table

QUERIES = registry.all_queries()


@pytest.fixture
def restore_views(spark, sf_dir):
    """Point the shared session's views back at the suite's corpus."""
    yield
    register_views(spark, sf_dir, force=True)


def test_register_memo_survives_session_id_reuse(spark, sf_dir, monkeypatch):
    """CPython hands a collected session's id to a later session object.
    An id-keyed memo then told the new session its views existed, and its
    first table() raised TABLE_OR_VIEW_NOT_FOUND. Whether the allocator
    reuses the slot varies run to run, so the catalog's ``id`` is pinned
    to one value: every session aliases, as a reused slot does."""
    monkeypatch.setattr(catalog, "id", lambda obj: 1, raising=False)
    s1 = spark.newSession()
    register_views(s1, sf_dir)
    del s1
    gc.collect()
    s2 = spark.newSession()
    assert table(s2, sf_dir, "orders").limit(1).count() == 1


@pytest.mark.parametrize("key", ["j3", "j41"])
def test_first_call_builds_and_runs_like_later_calls(
    spark, sf_dir, tmp_path, restore_views, key
):
    """Two calls in one session, on a corpus no earlier test has seen: both
    builds run no Spark job and make the same py4j round trips, and both
    executions run the same jobs and return the same rows."""
    fresh = str(tmp_path / "corpus")
    shutil.copytree(sf_dir, fresh)
    register_views(spark, fresh)  # registration is not part of the build
    F.lit(1) + 1  # pyspark reads a conf on its first Column operator call
    sc = spark.sparkContext
    tracer = tracing.Tracer(True)
    tracer.count_py4j()
    calls = []
    try:
        for i in range(2):
            group = f"state-{key}-{i}"
            sc.setJobGroup(f"{group}-build", "plan build")
            n0 = tracer.py4j_calls
            df = QUERIES[key](spark, fresh)
            py4j = tracer.py4j_calls - n0
            sc.setJobGroup(f"{group}-exec", "execution")
            rows = [tuple(r) for r in df.collect()]
            tracker = sc.statusTracker()
            calls.append({
                "build_jobs": list(tracker.getJobIdsForGroup(f"{group}-build")),
                "py4j": py4j,
                "exec_jobs": len(tracker.getJobIdsForGroup(f"{group}-exec")),
                "rows": rows,
            })
    finally:
        tracer.close()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    first, second = calls
    assert first["build_jobs"] == [] and second["build_jobs"] == [], calls
    assert first["py4j"] == second["py4j"], calls
    assert first["exec_jobs"] == second["exec_jobs"] > 0, calls
    assert first["rows"] == second["rows"] and len(first["rows"]) == 10


def test_no_cache_entry_outlives_its_frame(spark, sf_dir):
    """n1 and n4 read the dup-graph edges and j53 the NN-Descent graph.
    Once their frames are dropped, the session's CacheManager is back to
    empty: a persist() left behind is only freed by unpersist, while the
    localCheckpoint pins are freed with their frames."""
    spark.catalog.clearCache()  # start from empty, whatever ran before
    cache = spark._jsparkSession.sharedState().cacheManager()
    for key in ("n1", "n4", "j53"):
        df = QUERIES[key](spark, sf_dir)
        assert df.count() > 0, key
    del df
    gc.collect()
    assert cache.isEmpty()

"""Keyed-upsert (MERGE) semantics over partitioned parquet (operators/upsert.py)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from scopus_spark.operators.upsert import upsert_partitioned


def _rows(spark, data):
    return spark.createDataFrame(data, "id long, seg string, val double")


def test_upsert_insert_update_untouched(spark):
    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        base = _rows(
            spark,
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)],
        )
        upsert_partitioned(path, base, ["id"], "seg")

        delta = _rows(spark, [(2, "a", 20.0), (5, "a", 5.0), (6, "b", 6.0)])
        upsert_partitioned(path, delta, ["id"], "seg")

        got = {
            r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()
        }
        assert got == {
            1: ("a", 1.0),   # untouched row in touched partition survives
            2: ("a", 20.0),  # updated
            3: ("b", 3.0),   # untouched row in touched partition b
            4: ("c", 4.0),   # partition c never rewritten
            5: ("a", 5.0),   # inserted
            6: ("b", 6.0),   # inserted
        }


def test_upsert_is_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")
        delta = _rows(spark, [(1, "a", 10.0)])
        upsert_partitioned(path, delta, ["id"], "seg")
        once = sorted(map(tuple, spark.read.parquet(path).collect()))
        upsert_partitioned(path, delta, ["id"], "seg")
        twice = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert once == twice


def test_upsert_only_rewrites_touched_partitions(spark):
    import os

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")
        mtime_b = os.path.getmtime(f"{path}/seg=b")
        upsert_partitioned(path, _rows(spark, [(3, "a", 3.0)]), ["id"], "seg")
        assert os.path.getmtime(f"{path}/seg=b") == mtime_b  # b untouched
        assert spark.read.parquet(path).count() == 3


def test_upsert_recovers_interrupted_swap(spark):
    """A crash between 'park old partition' and 'move new in' leaves
    .<part>.old with no live dir; the next upsert must restore it before
    merging (stage-and-swap recovery sweep)."""
    import os

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_crash_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")

        # simulate the crash window: partition b parked, live dir missing
        os.rename(os.path.join(path, "seg=b"), os.path.join(path, ".seg=b.old"))
        assert not os.path.exists(os.path.join(path, "seg=b"))

        delta = _rows(spark, [(3, "a", 3.0)])
        upsert_partitioned(path, delta, ["id"], "seg")

        got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
        assert got == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("a", 3.0)}
        assert not os.path.exists(os.path.join(path, ".seg=b.old"))


def test_upsert_write_failure_leaves_target_intact(spark):
    """If computing/writing the merged partitions fails, the target must be
    byte-identical to before (staging is written before any target mutation)."""
    import os

    import pytest
    from pyspark.sql import types as T

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_fail_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)])
        upsert_partitioned(path, base, ["id"], "seg")
        before = sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

        def boom(v):
            raise RuntimeError("injected failure")

        bad_udf = F.udf(boom, T.DoubleType())
        delta = _rows(spark, [(2, "a", 99.0)]).withColumn("val", bad_udf("val"))
        with pytest.raises(Exception):
            upsert_partitioned(path, delta, ["id"], "seg")

        after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        assert after == before
        # no staging residue next to the target
        parent = os.path.dirname(path)
        assert [d for d in os.listdir(parent) if ".staging-" in d] == []


def test_upsert_with_deletes_removes_keys_and_empty_partitions(spark):
    """The WHEN MATCHED DELETE arm: deleted keys vanish, a partition
    emptied by deletes disappears from disk, untouched partitions are
    never rewritten, and upserts+deletes apply in one merge."""
    import os

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        base = _rows(
            spark,
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)],
        )
        upsert_partitioned(path, base, ["id"], "seg")

        delta = _rows(spark, [(2, "a", 20.0)])
        deletes = spark.createDataFrame([(1, "a"), (3, "b")], "id long, seg string")
        upsert_partitioned(path, delta, ["id"], "seg", deletes=deletes)

        got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
        assert got == {
            2: ("a", 20.0),  # updated in the same merge
            4: ("c", 4.0),   # partition c untouched
        }
        # partition b lost its only row -> directory gone entirely
        assert not os.path.exists(f"{path}/seg=b")


def test_upsert_deletes_are_idempotent(spark):
    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "a", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")
        deletes = spark.createDataFrame([(1, "a")], "id long, seg string")
        empty = _rows(spark, []).limit(0)
        for _ in range(2):
            upsert_partitioned(path, empty, ["id"], "seg", deletes=deletes)
        got = {r.id: r.val for r in spark.read.parquet(path).collect()}
        assert got == {2: 2.0}


def test_upsert_delete_wins_on_overlapping_key(spark):
    """A key present in BOTH delta and deletes must end up deleted —
    explicit MERGE semantics, not a silent re-insert via the union."""
    with tempfile.TemporaryDirectory(prefix="scopus_upsert_") as tmp:
        path = f"{tmp}/t"
        upsert_partitioned(
            path, _rows(spark, [(1, "a", 1.0), (2, "a", 2.0)]), ["id"], "seg"
        )
        delta = _rows(spark, [(2, "a", 99.0), (3, "a", 3.0)])
        deletes = delta.sparkSession.createDataFrame(
            [(2, "a")], "id long, seg string"
        )
        upsert_partitioned(path, delta, ["id"], "seg", deletes=deletes)
        got = {r.id: r.val for r in spark.read.parquet(path).collect()}
        assert got == {1: 1.0, 3: 3.0}


def test_upsert_recovers_interrupted_partition_delete(spark):
    """The delete-emptied-partition path parks before rmtree: a crash
    after the park (live dir gone, .old present) must be healed by the
    recovery sweep — the parked dir is restored and an idempotent re-run
    of the same delete empties it again cleanly."""
    import os

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_delcrash_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")

        # simulate the crash window inside the delete path: partition b
        # parked (rename done), rmtree never ran
        os.rename(os.path.join(path, "seg=b"), os.path.join(path, ".seg=b.old"))

        deletes = spark.createDataFrame([(2, "b")], "id long, seg string")
        upsert_partitioned(
            path,
            _rows(spark, []).limit(0),
            ["id"],
            "seg",
            deletes=deletes,
        )
        got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
        assert got == {1: ("a", 1.0)}
        assert not os.path.exists(os.path.join(path, "seg=b"))
        assert not os.path.exists(os.path.join(path, ".seg=b.old"))


def test_upsert_merges_into_escaped_partition_dirs(spark):
    """Partition values Spark escapes in directory names ('%' -> '%25',
    ':' -> '%3A') or renders differently from Python (True -> 'true')
    must merge into their own directories, not be skipped as emptied."""
    import os

    with tempfile.TemporaryDirectory(prefix="scopus_upsert_esc_") as tmp:
        path = f"{tmp}/t"
        base = _rows(spark, [(1, "a%b", 1.0), (2, "x:y", 2.0)])
        upsert_partitioned(path, base, ["id"], "seg")
        delta = _rows(spark, [(1, "a%b", 10.0), (3, "x:y", 30.0)])
        upsert_partitioned(path, delta, ["id"], "seg")
        got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
        assert got == {1: ("a%b", 10.0), 2: ("x:y", 2.0), 3: ("x:y", 30.0)}
        parts = sorted(d for d in os.listdir(path) if d.startswith("seg="))
        assert parts == ["seg=a%25b", "seg=x%3Ay"]

        flags = f"{tmp}/flags"
        schema = "id long, seg boolean, val double"
        upsert_partitioned(
            flags,
            spark.createDataFrame([(1, True, 1.0), (2, False, 2.0)], schema),
            ["id"], "seg",
        )
        upsert_partitioned(
            flags,
            spark.createDataFrame([(1, True, 10.0), (3, False, 30.0)], schema),
            ["id"], "seg",
        )
        got = {r.id: (r.seg, r.val) for r in spark.read.parquet(flags).collect()}
        # Spark infers no boolean partition type: the values read back as strings
        assert got == {1: ("true", 10.0), 2: ("false", 2.0), 3: ("false", 30.0)}
        parts = sorted(d for d in os.listdir(flags) if d.startswith("seg="))
        assert parts == ["seg=false", "seg=true"]

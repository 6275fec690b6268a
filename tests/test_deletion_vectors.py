"""VersionedTable.delete_keys — merge-on-read deletion vectors (a32).

Contracts:
- a delete commit writes tombstones only: NO existing data file is
  rewritten or removed (O(churn) commit cost);
- read() reconstructs exactly (equals the relational anti-join), for
  current reads AND time travel on both sides of the delete;
- tombstones scope to the directories existing at the delete's base:
  rows appended AFTERWARDS with the same key survive (deletes commute
  with appends under rebase);
- repeated deletes stack; deleting an already-deleted key is a no-op;
- compact() folds tombstones into plain files and clears them;
  merge() on a touched partition does the same;
- change feed: a delete commit streams the pre-images of exactly the
  rows it suppressed (not rows earlier tombstones already deleted);
  a merge after a delete does not re-emit tombstoned rows as deletes;
- conflicts: a delete racing a merge/compact on its partitions raises
  CommitConflict (dead-dir tombstones must not silently no-op);
  mismatched key_cols vs live tombstones are refused;
- vacuum keeps tombstone dirs of retained snapshots.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scopus_spark.operators.manifest import CommitConflict, VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, b long")


def _keys(spark, ks):
    return spark.createDataFrame([(k, k % 2) for k in ks], "k long, b long")


def _snap(df):
    return sorted((r.k, r.v, r.b) for r in df.collect())


def _data_files(root):
    out = set()
    for dirpath, _, files in os.walk(os.path.join(root, "data")):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


BASE = [(1, "a", 1), (2, "b", 0), (3, "c", 1), (4, "d", 0), (5, "e", 1)]


def test_delete_is_tombstone_only_and_read_reconstructs(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    before = _data_files(t.root)
    v = t.delete_keys(_keys(spark, [2, 3]), key_cols=["k"])
    assert v == 2
    after = _data_files(t.root)
    assert before <= after  # nothing rewritten or removed...
    assert after - before  # ...only tombstone files added
    assert _snap(t.read(spark)) == [(1, "a", 1), (4, "d", 0), (5, "e", 1)]
    # time travel: v1 still sees everything
    assert _snap(t.read(spark, at_version=1)) == sorted(BASE)
    # partition-pruned read applies the partition's tombstones
    assert _snap(t.read(spark, partition_values=[1])) == [
        (1, "a", 1),
        (5, "e", 1),
    ]


def test_append_after_delete_reintroduces_key(spark, tmp_path):
    """Tombstones attach to the dirs existing at the delete's base —
    a later append of the same key is live (the DV/file contract)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [2]), key_cols=["k"])
    t.append(_df(spark, [(2, "b2", 0)]))
    assert (2, "b2", 0) in _snap(t.read(spark))
    assert (2, "b", 0) not in _snap(t.read(spark))


def test_deletes_stack_and_idempotent_key(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [2]), key_cols=["k"])
    t.delete_keys(_keys(spark, [2, 5]), key_cols=["k"])  # 2 again: no-op
    assert _snap(t.read(spark)) == [(1, "a", 1), (3, "c", 1), (4, "d", 0)]


def test_compact_folds_tombstones(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [3]), key_cols=["k"])
    want = _snap(t.read(spark))
    v = t.compact(spark)
    m = t._read_manifest(v)
    assert m.get("tombstones") == {}  # folded
    assert _snap(t.read(spark)) == want
    t.vacuum(keep_last=1)
    assert _snap(t.read(spark)) == want


def test_merge_on_tombstoned_partition_folds_its_tombstones(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [3]), key_cols=["k"])  # partition 1
    t.merge(_df(spark, [(1, "a2", 1)]), key_cols=["k"], partition_col="b")
    m = t._read_manifest()
    assert "1" not in m.get("tombstones", {})  # folded by the rewrite
    assert _snap(t.read(spark)) == [
        (1, "a2", 1),
        (2, "b", 0),
        (4, "d", 0),
        (5, "e", 1),
    ]


def test_change_feed_delete_preimages_exact(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [2, 3]), key_cols=["k"])  # v2
    t.delete_keys(_keys(spark, [3, 4]), key_cols=["k"])  # v3: 3 already gone
    ch = t.read_changes(spark, 1, 3)
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version) for r in ch.collect()
    )
    assert got == [
        (2, "b", "delete", 2),
        (3, "c", "delete", 2),
        (4, "d", "delete", 3),  # NOT 3 again — it was not live at v2
    ]


def test_change_feed_merge_after_delete_skips_dead_preimages(spark, tmp_path):
    """A merge whose partition carried tombstones must not emit the
    already-deleted rows as merge deletes."""
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [3]), key_cols=["k"])  # v2, partition 1
    # v3: merge updates k=1, deletes k=5 (merge-style), partition 1
    t.merge(
        _df(spark, [(1, "a2", 1)]),
        key_cols=["k"],
        partition_col="b",
        deletes=_df(spark, [(5, "e", 1)]).select("k", "b"),
    )
    ch = t.read_changes(spark, 2, 3)
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version) for r in ch.collect()
    )
    # k=3 was dead before the merge: it must NOT appear here
    assert got == [
        (1, "a", "update_preimage", 3),
        (1, "a2", "update_postimage", 3),
        (5, "e", "delete", 3),
    ]
    # and the full feed equals: v2 deletes 3, v3 updates 1 / deletes 5
    full = sorted(
        (r.k, r._change_type, r._commit_version)
        for r in t.read_changes(spark, 1, 3).collect()
    )
    assert full == [
        (1, "update_postimage", 3),
        (1, "update_preimage", 3),
        (3, "delete", 2),
        (5, "delete", 3),
    ]


def test_delete_conflicts_with_concurrent_merge(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    m1 = t._read_manifest()
    t.merge(_df(spark, [(1, "a2", 1)]), key_cols=["k"], partition_col="b")

    real = t._read_manifest
    calls = {"n": 0}

    def fake(at_version=None):
        if at_version is None and calls["n"] == 0:
            calls["n"] += 1
            return m1
        return real(at_version)

    t._read_manifest = fake
    try:
        with pytest.raises(CommitConflict):
            t.delete_keys(_keys(spark, [3]), key_cols=["k"])
    finally:
        t._read_manifest = real
    # and the losing delete's tombstone dirs were reclaimed
    import json

    referenced: set[str] = set()
    for name in os.listdir(t._manifest_dir):
        if name.endswith(".json"):
            with open(os.path.join(t._manifest_dir, name)) as fh:
                mm = json.load(fh)
            for ds in mm["partitions"].values():
                referenced.update(ds)
            for ds in mm.get("tombstones", {}).values():
                referenced.update(ds)
    on_disk = set()
    for commit in os.listdir(os.path.join(t.root, "data")):
        for leaf in os.listdir(os.path.join(t.root, "data", commit)):
            if leaf.startswith("__part="):
                on_disk.add(os.path.join("data", commit, leaf))
    assert on_disk <= referenced


def test_delete_rebases_across_append_and_delete(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    m1 = t._read_manifest()
    t.append(_df(spark, [(6, "f", 1)]))  # intervening append, partition 1
    t.delete_keys(_keys(spark, [4]), key_cols=["k"])  # intervening delete

    real = t._read_manifest
    calls = {"n": 0}

    def fake(at_version=None):
        if at_version is None and calls["n"] == 0:
            calls["n"] += 1
            return m1
        return real(at_version)

    t._read_manifest = fake
    try:
        t.delete_keys(_keys(spark, [3]), key_cols=["k"])  # rebases fine
    finally:
        t._read_manifest = real
    assert _snap(t.read(spark)) == [
        (1, "a", 1),
        (2, "b", 0),
        (5, "e", 1),
        (6, "f", 1),  # the append survived the delete rebase
    ]


def test_mismatched_tombstone_key_cols_refused(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [2]), key_cols=["k"])
    with pytest.raises(ValueError, match="cannot compose"):
        t.delete_keys(
            _df(spark, [(1, "a", 1)]).select("k", "v", "b"),
            key_cols=["k", "v"],
        )


def test_delete_token_replay_is_noop(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    v = t.delete_keys(_keys(spark, [2]), key_cols=["k"], commit_token="d1")
    assert (
        t.delete_keys(_keys(spark, [2]), key_cols=["k"], commit_token="d1")
        == v
    )
    assert t.version() == v


def test_vacuum_retains_live_tombstones(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.delete_keys(_keys(spark, [2, 3]), key_cols=["k"])
    want = _snap(t.read(spark))
    t.vacuum(keep_last=1)  # current snapshot still needs its tombstones
    assert _snap(t.read(spark)) == want


def test_compact_pops_partition_emptied_by_tombstones(spark, tmp_path):
    """Regression: a partition whose EVERY row is tombstoned writes no
    compacted output — compact must drop it from the snapshot, not carry
    the raw dirs forward while clearing the tombstones (which would
    resurrect the deleted rows)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    t.append(_df(spark, [(6, "f", 0)]))
    t.merge(_df(spark, [(1, "a2", 1)]), key_cols=["k"], partition_col="b")
    # partition 1 holds {1, 3, 5}: delete all of them
    t.delete_keys(_keys(spark, [1, 3, 5]), key_cols=["k"])
    want = _snap(t.read(spark))
    assert want == [(2, "b", 0), (4, "d", 0), (6, "f", 0)]
    t.compact(spark)
    m = t._read_manifest()
    assert m.get("tombstones") == {}
    assert "1" not in m["partitions"]  # the emptied partition left
    assert _snap(t.read(spark)) == want
    t.vacuum(keep_last=1)
    assert _snap(t.read(spark)) == want


def test_tombstone_storage_is_o_keys_not_keys_times_dirs(spark, tmp_path):
    """100 TB shape: a delete over a fragmented partition stores ONE
    tombstone row per key (covered dirs ride as an RLE-compressed array
    column), never a key x dirs row blowup."""
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, BASE), "b")
    for i in range(5):  # fragment partition 1 with appends
        t.append(_df(spark, [(100 + i, f"x{i}", 1)]))
    m = t._read_manifest()
    n_dirs_p1 = len(m["partitions"]["1"])
    assert n_dirs_p1 >= 6  # genuinely fragmented
    t.delete_keys(_keys(spark, [1, 3, 5]), key_cols=["k"])
    m2 = t._read_manifest()
    tomb_dirs = [d for ds in m2["tombstones"].values() for d in ds]
    rows = spark.read.parquet(
        *[f"{t.root}/{d}" for d in tomb_dirs]
    ).collect()
    assert len(rows) == 3  # one row per key — NOT 3 x n_dirs_p1
    # and each row's applies array covers the partition's pre-delete dirs
    assert all(len(r._applies) == n_dirs_p1 for r in rows)
    assert _snap(t.read(spark)) == sorted(
        [(2, "b", 0), (4, "d", 0)]
        + [(100 + i, f"x{i}", 1) for i in range(5)]
    )


def test_write_initial_refuses_divergent_partition_types(spark, tmp_path):
    """Manifest partition keys come from Spark's partitionBy dir names
    but lookups render with Python str(); float/decimal/timestamp
    renderings diverge ('1.0E-7' vs '1e-07'), so such partition columns
    are refused up front rather than silently no-op'ing lookups."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, 1e-07)], "k long, p double")
    with pytest.raises(ValueError, match="partition column"):
        t.write_initial(df, "p")


def test_table_with_vt_dir_column_survives_tombstone_read(spark, tmp_path):
    """A table legitimately named a column `_vt_dir`: merge-on-read
    reconstruction must not overwrite it with the internal source-dir
    tag (collision-proof generated column)."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "keep-me", 0), (2, "also", 1)], "k long, _vt_dir string, b long"
    )
    t.write_initial(df, "b")
    t.delete_keys(
        spark.createDataFrame([(2, 1)], "k long, b long"), key_cols=["k"]
    )
    got = sorted((r.k, r._vt_dir, r.b) for r in t.read(spark).collect())
    assert got == [(1, "keep-me", 0)]


# partition values whose directory names need escaping: a space and '%'
# are percent-encoded in the file URI (and '%' in the directory name
# itself); '+' is left as is by the URI but decodes to a space under
# form-style url decoding
ESCAPED = ["4-NOT SPECIFIED", "a+b", "50%", "x%20y"]


def test_tombstones_apply_in_escaped_partition_dirs(spark, tmp_path):
    """read() must drop tombstoned rows in every partition, also where
    the directory name differs from its URI form (input_file_name is
    percent-encoded, manifest dirs are not) — current, partition-pruned
    and change-feed reads."""
    rows = [(k, f"v{k}", ESCAPED[k % 4]) for k in range(12)]
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(spark.createDataFrame(rows, "k long, v string, p string"), "p")
    deleted = [0, 1, 2, 3, 6]
    t.delete_keys(
        spark.createDataFrame(
            [(k, ESCAPED[k % 4]) for k in deleted], "k long, p string"
        ),
        key_cols=["k"],
    )
    live = sorted(r for r in rows if r[0] not in deleted)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == live
    for val in ESCAPED:
        got = t.read(spark, partition_values=[val]).collect()
        assert sorted(tuple(r) for r in got) == [r for r in live if r[2] == val]
    ch = t.read_changes(spark, 1, 2)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (k, "delete") for k in deleted
    ]


def test_partition_dir_matches_spark_escaping(spark):
    """_partition_dir renders a value exactly as Spark names its
    partition directory (ExternalCatalogUtils.escapePathName)."""
    from scopus_spark.operators.manifest import _partition_dir

    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for c in map(chr, range(1, 256)):
        assert _partition_dir(f"a{c}b") == esc.escapePathName(f"a{c}b"), repr(c)

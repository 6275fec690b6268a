"""Every table operation writes the manifests it wrote before the table
commit path was folded onto one successor helper and one filesystem seam.

One scenario runs write_initial, append (with and without a token, and a
replayed token), stage/publish/discard, merge (create-by-merge, deletes,
replay), delete_keys, compact, create/merge/drop_branch,
evolve_partitioning (then a mixed-spec append, merge and delete and the
migrating compact), vacuum and upsert_partitioned. It records every
committed manifest, every staged record and branch base, the return
values, ``read()``/``history()``/``read_changes()`` rows and the data
layout left on disk, with commit ids, staged ids and file uuids
normalized. ``tests/data/table_ops.json`` holds the record made before
the fold; regenerate it with

    python tests/test_table_ops_golden.py tests/data/table_ops.json
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "data", "table_ops.json")

# Fields the fold added to the create-by-merge manifest. Each value equals
# every reader's .get default, so readers see the same table either way.
APPEARED = {("create", "file_stats"): {}, ("create", "bloom_cols"): [],
            ("create", "blooms"): {}}

_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_ID = re.compile(r"(?<![0-9a-f])[0-9a-f]{12}(?![0-9a-f])")


def _manifests(mdir: str) -> dict:
    out = {}
    for n in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        p = os.path.join(mdir, n)
        if n.endswith(".json"):
            with open(p) as fh:
                out[n] = json.load(fh)
        elif n == "_base":
            with open(p) as fh:
                out[n] = fh.read()
    return out


def _layout(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, x), root)
        for d, dirs, _files in os.walk(root)
        for x in dirs
    )


def _rows(df) -> list:
    return sorted(
        (list(r) for r in df.collect()), key=lambda r: json.dumps(r, default=str)
    )


def run_scenario(spark, tmp: str) -> dict:
    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.operators.upsert import upsert_partitioned

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string, b long, g string")

    def keys(rows, cols="k long, b long"):
        return spark.createDataFrame(rows, cols)

    rec: dict = {"ret": {}, "staged": {}, "branches": {}, "rows": {}}
    ret = rec["ret"]
    t = VersionedTable(os.path.join(tmp, "a"))
    ret["write_initial"] = t.write_initial(
        df([(1, "a", 0, "x"), (2, "b", 1, "y")]), "b", stats_cols=["k"],
        commit_token="t0", bloom_cols=["k"],
    )
    ret["append_token"] = t.append(df([(3, "c", 0, "x")]), commit_token="t1")
    ret["append_replay"] = t.append(df([(3, "c", 0, "x")]), commit_token="t1")
    ret["append"] = t.append(df([(4, "d", 2, "y")]))
    sid = t.stage_append(df([(5, "e", 1, "x")]))
    rec["staged"]["s1"] = _manifests(t._manifest_dir)[f"staged-{sid}.json"]
    rec["rows"]["read_staged"] = _rows(t.read_staged(spark, sid))
    ret["publish"] = t.publish_staged(sid, commit_token="w1")
    sid2 = t.stage_append(df([(6, "f", 0, "y")]))
    rec["staged"]["s2"] = _manifests(t._manifest_dir)[f"staged-{sid2}.json"]
    ret["discard"] = t.discard_staged(sid2)
    ret["merge"] = t.merge(
        df([(1, "a2", 0, "x"), (7, "g", 2, "y")]), ["k"], "b",
        deletes=keys([(2, 1)]), commit_token="m1",
    )
    ret["merge_replay"] = t.merge(
        df([(1, "a9", 0, "x")]), ["k"], "b", commit_token="m1"
    )
    ret["delete"] = t.delete_keys(keys([(3, 0)]), ["k"], commit_token="d1")
    ret["delete_replay"] = t.delete_keys(keys([(4, 2)]), ["k"], commit_token="d1")
    ret["compact"] = t.compact(spark)
    dev = t.create_branch("dev")
    dev.append(df([(8, "h", 1, "x")]))
    dev.merge(df([(4, "d2", 2, "y")]), ["k"], "b")
    t.append(df([(11, "m", 5, "x")]))  # main moves on a partition dev left alone
    tmpb = t.create_branch("tmp")
    tmpb.append(df([(9, "i", 3, "x")]))
    for b in ("dev", "tmp"):
        rec["branches"][b] = _manifests(
            os.path.join(t.root, "_manifests", "branches", b)
        )
    rec["rows"]["dev"] = _rows(dev.read(spark))
    ret["merge_branch"] = t.merge_branch("dev")
    ret["drop_tmp"] = t.drop_branch("tmp")
    ret["drop_dev"] = t.drop_branch("dev")
    v_bm = t.version()
    ret["evolve"] = t.evolve_partitioning("g")
    ret["append_mixed"] = t.append(df([(10, "j", 0, "x")]))
    ret["merge_mixed"] = t.merge(df([(1, "a3", 0, "x")]), ["k"], "g")
    ret["delete_mixed"] = t.delete_keys(
        keys([(7, "y")], "k long, g string"), ["k"]
    )
    rec["rows"]["changes_before_branch"] = _rows(t.read_changes(spark, 1, v_bm - 1))
    rec["rows"]["changes_after_branch"] = _rows(t.read_changes(spark, v_bm))
    rec["rows"]["read_mixed"] = _rows(t.read(spark))
    rec["rows"]["read_pruned"] = _rows(t.read(spark, partition_values=["x"]))
    ret["compact_migrate"] = t.compact(spark)
    rec["rows"]["read_v3"] = _rows(t.read(spark, at_version=3))
    rec["rows"]["history"] = _rows(t.history(spark))
    rec["manifests"] = _manifests(t._manifest_dir)
    ret["vacuum"] = t.vacuum(keep_last=2)
    rec["rows"]["read"] = _rows(t.read(spark))
    rec["rows"]["history_vacuumed"] = _rows(t.history(spark))
    rec["layout"] = _layout(t.root)

    c = VersionedTable(os.path.join(tmp, "c"))
    ret["merge_create"] = c.merge(
        df([(1, "a", 0, "x"), (2, "b", 1, "y"), (3, "c", 1, "x")]), ["k"], "b",
        deletes=keys([(3, 1)]), commit_token="c0",
    )
    ret["merge_create_replay"] = c.merge(
        df([(1, "z", 0, "x")]), ["k"], "b", commit_token="c0"
    )
    ret["merge_after_create"] = c.merge(df([(2, "b2", 1, "y")]), ["k"], "b")
    rec["manifests_create"] = _manifests(c._manifest_dir)
    rec["rows"]["create_read"] = _rows(c.read(spark))
    rec["rows"]["create_changes"] = _rows(c.read_changes(spark, 1))

    u = os.path.join(tmp, "u")
    rows = "id long, seg string, val double"
    upsert_partitioned(
        u, spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], rows),
        ["id"], "seg",
    )
    upsert_partitioned(
        u, spark.createDataFrame([(2, "b", 20.0), (4, "a", 4.0)], rows), ["id"], "seg",
        deletes=spark.createDataFrame([(3, "c")], "id long, seg string"),
    )
    rec["rows"]["upsert"] = _rows(spark.read.parquet(u))
    rec["upsert_layout"] = _layout(u)
    return rec


def normalize(rec: dict) -> dict:
    """Replace file uuids with one token and commit/staged ids with labels
    in order of first appearance, over strings only (layouts, which list
    ids in hash order, are mapped after and sorted)."""
    layouts = {k: rec.pop(k) for k in ("layout", "upsert_layout")}
    labels: dict[str, str] = {}

    def sub(s: str) -> str:
        s = _UUID.sub("<uuid>", s)
        return _ID.sub(
            lambda m: labels.setdefault(m.group(0), f"<c{len(labels)}>"), s
        )

    def walk(x):
        if isinstance(x, dict):
            return {sub(k): walk(x[k]) for k in sorted(x)}
        if isinstance(x, list):
            return [walk(v) for v in x]
        return sub(x) if isinstance(x, str) else x

    out = walk(rec)
    for k, v in layouts.items():
        out[k] = sorted(sub(x) for x in v)
    return out


def _drop_appeared(manifests: dict) -> dict:
    return {
        name: {
            f: v for f, v in m.items()
            if APPEARED.get((m.get("op"), f), object()) != v
        } if isinstance(m, dict) else m
        for name, m in manifests.items()
    }


def test_table_operations_match_recorded_manifests(spark):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    with tempfile.TemporaryDirectory(prefix="scopus_golden_") as tmp:
        got = normalize(run_scenario(spark, tmp))
    got["manifests_create"] = _drop_appeared(got["manifests_create"])
    want["manifests_create"] = _drop_appeared(want["manifests_create"])
    for section in sorted(want):
        assert got[section] == want[section], section
    assert sorted(got) == sorted(want)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    from scopus_spark._vendor import ensure_protobuf
    from scopus_spark.session import get_spark

    ensure_protobuf()
    session = get_spark(app_name="table_ops_golden")
    with tempfile.TemporaryDirectory(prefix="scopus_golden_") as tmp:
        record = normalize(run_scenario(session, tmp))
    os.makedirs(os.path.dirname(os.path.abspath(sys.argv[1])), exist_ok=True)
    with open(sys.argv[1], "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")

"""The table commit paths' one filesystem seam (operators/tablefs.py).

- No filesystem mutation in manifest.py, upsert.py or table_source.py
  bypasses the seam (the writer lock's flock file is synchronisation,
  exempt by name).
- Each operation's named step sequence, recorded through the ``step``
  hook; ``pointer.replace`` is the commit point.
- Crashes injected at a named step: the after-crash states that
  test_wap.py and test_upsert.py build by hand, reached by raising at
  the step instead, then the same recovery and assertions.
"""

from __future__ import annotations

import ast
import os

import pytest

from scopus_spark.operators import tablefs
from scopus_spark.operators.manifest import VersionedTable
from scopus_spark.operators.upsert import upsert_partitioned

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEAM_USERS = (
    "scopus_spark/operators/manifest.py",
    "scopus_spark/operators/upsert.py",
    "scopus_spark/streaming/table_source.py",
)
EXEMPT_CLASSES = {"_WriterLock"}
OS_MUTATIONS = {
    "replace", "rename", "renames", "remove", "unlink", "makedirs", "mkdir",
    "rmdir", "removedirs", "open",
}
COMMIT = ["manifest.mkdir", "manifest.write", "pointer.replace"]


def _bypasses(path: str) -> list[str]:
    with open(os.path.join(ROOT, path)) as fh:
        tree = ast.parse(fh.read())
    exempt = {
        id(n)
        for c in ast.walk(tree)
        if isinstance(c, ast.ClassDef) and c.name in EXEMPT_CLASSES
        for n in ast.walk(c)
    }
    bad = []
    for node in ast.walk(tree):
        if id(node) in exempt:
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names]
            if "shutil" in names or getattr(node, "module", None) in ("shutil", "os"):
                bad.append(f"{path}:{node.lineno} import {names}")
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and (
            f.value.id == "shutil"
            or (f.value.id == "os" and f.attr in OS_MUTATIONS)
        ):
            bad.append(f"{path}:{node.lineno} {f.value.id}.{f.attr}")
        if isinstance(f, ast.Name) and f.id == "open":
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            if mode is not None and not (
                isinstance(mode, ast.Constant) and set(mode.value) <= set("rbt")
            ):
                bad.append(f"{path}:{node.lineno} open(mode={ast.unparse(mode)})")
    return bad


def test_no_filesystem_mutation_bypasses_the_seam():
    assert [b for p in SEAM_USERS for b in _bypasses(p)] == []


def test_the_audit_sees_a_bypass(tmp_path):
    """The AST check flags each kind of bypass it looks for."""
    src = tmp_path / "m.py"
    src.write_text(
        "import os, shutil\n"
        "class _WriterLock:\n"
        "    def f(self): os.makedirs('x'); os.open('x', 0)\n"
        "def g():\n"
        "    os.replace('a', 'b'); shutil.rmtree('d')\n"
        "    open('p', 'w'); open('p'); open('p', mode='a')\n"
    )
    # an absolute path: os.path.join(ROOT, path) keeps it as is
    assert sorted(b.split(" ", 1)[1] for b in _bypasses(str(src))) == [
        "import ['os', 'shutil']", "open(mode='a')", "open(mode='w')",
        "os.replace", "shutil.rmtree",
    ]


class Crash(RuntimeError):
    pass


def _crash_at(monkeypatch, name: str) -> None:
    """Raise at the first step called ``name``; later steps run."""

    def hook(step: str) -> None:
        if step == name:
            monkeypatch.setattr(tablefs, "step", lambda _step: None)
            raise Crash(name)

    monkeypatch.setattr(tablefs, "step", hook)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, b long")


def _snap(df):
    return sorted((r.k, r.v, r.b) for r in df.collect())


def test_step_sequence_of_each_operation(spark, tmp_path, monkeypatch):
    seen: list[str] = []
    monkeypatch.setattr(tablefs, "step", seen.append)

    def steps(fn, *a, **kw) -> list[str]:
        seen.clear()
        fn(*a, **kw)
        return list(seen)

    t = VersionedTable(str(tmp_path / "t"))
    assert steps(t.write_initial, _df(spark, [(1, "a", 0)]), "b") == [
        "data.write", *COMMIT
    ]
    assert steps(t.append, _df(spark, [(2, "b", 1)])) == ["data.write", *COMMIT]
    assert steps(
        t.merge, _df(spark, [(1, "a2", 0)]), key_cols=["k"], partition_col="b"
    ) == ["data.write", *COMMIT]

    seen.clear()
    sid = t.stage_append(_df(spark, [(3, "c", 0)]))
    assert seen == ["data.write", "staged.write"]
    assert steps(t.publish_staged, sid) == [*COMMIT, "staged.remove"]
    seen.clear()
    sid = t.stage_append(_df(spark, [(4, "d", 0)]))
    assert steps(t.discard_staged, sid) == ["staged.remove", "data.discard"]

    # v1's only dir was replaced by the merge (v3): keeping v3 and v4,
    # vacuum drops that dir, its emptied data/<commit>/ shell, then v1
    # and v2 (whose dirs v3 still lists)
    assert steps(t.vacuum, keep_last=2) == [
        "vacuum.data", "vacuum.shell", "vacuum.manifest", "vacuum.manifest"
    ]

    u = str(tmp_path / "u")
    rows = "id long, seg string, val double"
    assert steps(
        upsert_partitioned, u,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], rows), ["id"], "seg",
    ) == ["data.write"]
    # partition a is rewritten (park, move, unpark), partition b is emptied
    # by the delete (park, unpark)
    assert steps(
        upsert_partitioned, u, spark.createDataFrame([(3, "a", 3.0)], rows),
        ["id"], "seg",
        deletes=spark.createDataFrame([(2, "b")], "id long, seg string"),
    ) == [
        "data.write", "swap.park", "swap.move", "swap.unpark",
        "swap.park", "swap.unpark", "staging.remove",
    ]


@pytest.mark.parametrize("recovery", ["discard", "replayed_publish"])
def test_crash_after_publish_swap_keeps_live_data(
    spark, tmp_path, monkeypatch, recovery
):
    """Seam twin of test_wap.py's crashed-publish tests: publish_staged
    dies after the pointer swap, before the staging record is removed.
    Discarding the orphaned record, or a token replay of the publish,
    drops only the record, never the now-live dirs."""
    t = VersionedTable(str(tmp_path / "t"))
    t.write_initial(_df(spark, [(1, "a", 0)]), "b")
    sid = t.stage_append(_df(spark, [(2, "b", 1)]))
    _crash_at(monkeypatch, "staged.remove")
    with pytest.raises(Crash):
        t.publish_staged(sid, commit_token="wap:crash")
    assert t.version() == 2
    assert os.path.isfile(t._staged_path(sid))
    if recovery == "discard":
        t.discard_staged(sid)
    else:
        assert t.publish_staged(sid, commit_token="wap:crash") == 2
    assert not os.path.isfile(t._staged_path(sid))
    assert _snap(t.read(spark)) == [(1, "a", 0), (2, "b", 1)]


def test_upsert_crash_between_park_and_move(spark, tmp_path, monkeypatch):
    """Seam twin of test_upsert.py's interrupted-swap test: the upsert
    dies after parking partition b, before moving its new content in.
    The next upsert's recovery sweep restores the parked dir."""
    path = str(tmp_path / "t")
    rows = "id long, seg string, val double"
    upsert_partitioned(
        path, spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], rows),
        ["id"], "seg",
    )
    _crash_at(monkeypatch, "swap.move")
    with pytest.raises(Crash):
        upsert_partitioned(
            path, spark.createDataFrame([(2, "b", 20.0)], rows), ["id"], "seg"
        )
    assert not os.path.exists(os.path.join(path, "seg=b"))
    assert os.path.isdir(os.path.join(path, ".seg=b.old"))

    upsert_partitioned(
        path, spark.createDataFrame([(3, "a", 3.0)], rows), ["id"], "seg"
    )
    got = {r.id: (r.seg, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("a", 3.0)}
    assert not os.path.exists(os.path.join(path, ".seg=b.old"))

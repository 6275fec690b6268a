"""The Python-worker daemon entry (scopus_spark/pydaemon.py): the
stat-guarded zip importer on its own, the swap it makes before the
daemon forks, and Spark workers that run through it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from scopus_spark.pydaemon import GuardedZipImporter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer, name):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = spec.loader.create_module(spec) or type(sys)(name)
    mod.__spec__ = spec
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def read_calls(monkeypatch):
    """Counts zipimport._read_directory calls (archive directory reads)."""
    calls: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_guarded_importer_skips_unchanged_archive(tmp_path, read_calls):
    """A stock zipimporter re-reads its archive on every
    invalidate_caches(), changed or not; the guarded one does not."""
    z = tmp_path / "same.zip"
    _write_zip(z, {"pd_same_a": "X = 1\n"})
    stock = zipimport.zipimporter(str(z))
    imp = GuardedZipImporter(str(z))
    assert _load(imp, "pd_same_a").X == 1
    read_calls.clear()
    stock.invalidate_caches()
    assert read_calls == [str(z)]
    read_calls.clear()
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert read_calls == []
    assert _load(imp, "pd_same_a").X == 1


def test_guarded_importer_rereads_rewritten_archive(tmp_path, read_calls):
    z = tmp_path / "grow.zip"
    _write_zip(z, {"pd_grow_a": "X = 1\n"})
    imp = GuardedZipImporter(str(z))
    assert _load(imp, "pd_grow_b") is None
    _write_zip(z, {"pd_grow_a": "X = 1\n", "pd_grow_b": "Y = 2\n"})
    read_calls.clear()
    imp.invalidate_caches()
    assert read_calls == [str(z)]
    assert _load(imp, "pd_grow_b").Y == 2
    read_calls.clear()
    imp.invalidate_caches()  # the new stat is remembered
    assert read_calls == []


def test_guarded_importer_survives_deleted_archive(tmp_path):
    z = tmp_path / "gone.zip"
    _write_zip(z, {"pd_gone_a": "X = 1\n"})
    imp = GuardedZipImporter(str(z))
    z.unlink()
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp.find_spec("pd_gone_a") is None


def test_install_swaps_hook_and_cached_importers(tmp_path):
    """install() runs in the daemon before it forks: the zip path hook
    and every plain zipimporter already cached become the subclass.
    A separate interpreter keeps this process's import system as is."""
    z = tmp_path / "cached.zip"
    _write_zip(z, {"pd_cached_a": "X = 1\n"})
    code = textwrap.dedent(f"""
        import sys, zipimport
        sys.path.insert(0, {str(z)!r})
        import pd_cached_a
        assert type(sys.path_importer_cache[{str(z)!r}]) is zipimport.zipimporter
        from scopus_spark import pydaemon
        pydaemon.install()
        assert zipimport.zipimporter not in sys.path_hooks
        assert pydaemon.GuardedZipImporter in sys.path_hooks
        assert type(sys.path_importer_cache[{str(z)!r}]) is pydaemon.GuardedZipImporter
    """)
    r = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr[-2000:]


def test_spark_workers_skip_rereads_and_import_added_py_files(spark, tmp_path):
    """Inside a task, importlib.invalidate_caches() reads no zip
    directory (16 reads per call under the stock daemon), and a module
    shipped as a zip with addPyFile still imports in a UDF."""
    import pandas as pd

    def count_reads(it):
        import importlib
        import zipimport

        calls = [0]
        orig = zipimport._read_directory

        def counting(archive):
            calls[0] += 1
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in it:
            pass
        yield pd.DataFrame({"reads": [calls[0]]})

    rows = spark.range(4, numPartitions=4).mapInPandas(
        count_reads, "reads long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]

    name = f"pd_added_{os.getpid()}"
    z = tmp_path / f"{name}.zip"
    _write_zip(z, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(z))

    def use_added(it):
        import importlib

        value = importlib.import_module(name).VALUE
        for pdf in it:
            yield pdf.assign(v=value)

    rows = spark.range(2, numPartitions=2).mapInPandas(
        use_added, "id long, v long").collect()
    assert sorted(r.v for r in rows) == [42, 42]


def test_workers_start_from_a_driver_cwd_outside_the_repo(tmp_path):
    """The daemon runs as `python -m scopus_spark.pydaemon`; a driver
    whose cwd and PYTHONPATH lack the repo still runs a mapInPandas,
    because get_spark puts the package's parent on the executors'
    PYTHONPATH."""
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from scopus_spark.session import get_spark
        spark = get_spark(app_name="pydaemon_cwd", master="local[2]",
                          extra_conf={{"spark.driver.memory": "1g"}})
        rows = spark.range(4, numPartitions=2).mapInPandas(
            lambda it: (p * 2 for p in it), "id long").collect()
        assert sorted(r.id for r in rows) == [0, 2, 4, 6], rows
        print("ok")
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT)
    r = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0 and "ok" in r.stdout, r.stderr[-3000:]

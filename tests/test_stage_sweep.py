"""session.sweep_stale_stage_dirs — /tmp staging hygiene (r7 verdict
item): dead-pid staging dirs are reclaimed, live-pid (ours) are kept."""

from __future__ import annotations

import os

from scopus_spark.session import sweep_stale_stage_dirs


def test_dead_pid_dirs_removed_live_kept(tmp_path):
    root = tmp_path / "stage"
    sf = root / "sf0.01"
    dead = 2 ** 22 + 12345  # beyond pid_max default: guaranteed dead
    mine = os.getpid()
    for name in (f"pid{dead}", f"snapshot_zips_pid{dead}",
                 f"pid{mine}", f"snapshot_tables_pid{mine}", "not_pid"):
        (sf / name).mkdir(parents=True)
        (sf / name / "x").write_text("payload")
    removed = sweep_stale_stage_dirs(str(root))
    assert sorted(os.path.basename(p) for p in removed) == [
        f"pid{dead}", f"snapshot_zips_pid{dead}"
    ]
    left = sorted(os.listdir(sf))
    assert left == [f"not_pid", f"pid{mine}", f"snapshot_tables_pid{mine}"]


def test_missing_root_is_noop(tmp_path):
    assert sweep_stale_stage_dirs(str(tmp_path / "absent")) == []


def test_split_stage_dirs_are_swept(tmp_path, monkeypatch):
    """catalog.split_layout stages under <root>/<sf>/split<par>_pid<N>,
    a name the sweep reclaims once its process is dead."""
    from scopus_spark import catalog
    from tests.conftest import TEST_SF_DIR

    root = tmp_path / "stage"
    monkeypatch.setattr(catalog, "STAGE_ROOT", str(root))
    sf = root / os.path.basename(TEST_SF_DIR)
    staged = catalog.split_layout(TEST_SF_DIR, "lineitem", 2, floor=1)
    mine = os.path.dirname(staged)
    assert mine == str(sf / f"split2_pid{os.getpid()}")
    dead = sf / f"split2_pid{2 ** 22 + 12345}"
    os.rename(mine, dead)  # as a dead process would have left it
    catalog.split_layout(TEST_SF_DIR, "lineitem", 2, floor=1)
    assert sweep_stale_stage_dirs(str(root)) == [str(dead)]
    assert os.listdir(sf) == [f"split2_pid{os.getpid()}"]

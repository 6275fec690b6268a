"""catalog.split_layout: a one-file, one-row-group corpus table is
registered over ``min(defaultParallelism, size // SPLIT_FLOOR)`` files of
contiguous row slices, so its scan runs one task per core. The pieces
hold the source's rows in the source's order with the source's parquet
schema, every other layout loads in place, and registration schedules
no Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scopus_spark import catalog, registry
from scopus_spark.catalog import TABLES, register_views, split_layout
from tests.conftest import SMOKE_SF_DIR, TEST_SF_DIR
from tests.oracle_harness import compare, duckdb_conn

QUERIES = registry.all_queries()
ORACLES = registry.all_oracles()
# perfbench's headline and llm_python keys (perfbench/workloads.py)
BENCH_KEYS = ("d2", "q3", "c8", "d1", "e1", "i1", "h9", "j3", "j1", "d9",
              "k7", "j18", "j27")


@pytest.fixture
def stage_root(tmp_path, monkeypatch):
    root = tmp_path / "stage"
    monkeypatch.setattr(catalog, "STAGE_ROOT", str(root))
    return root


@pytest.fixture
def restore_views(spark, sf_dir):
    """Point the shared session's views back at the suite's corpus."""
    yield
    register_views(spark, sf_dir, force=True)


def _size(sf_dir, t):
    return os.path.getsize(f"{sf_dir}/{t}.parquet")


def _digest(df):
    """Order-insensitive digest of a frame's rows: (count, sum of row hashes)."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return tuple(row)


def test_pieces_hold_the_source_rows_in_order(spark, sf_dir, stage_root):
    """Every table forced to 4 pieces: the pieces, read back in name
    order, are the source table; the physical parquet schema, the codec
    and the Spark schema are the source's, and so is Spark's rows digest."""
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        staged = split_layout(sf_dir, t, 4, floor=1)
        parts = catalog._parquet_parts(staged)
        assert len(parts) == 4, t
        src_file = pq.ParquetFile(src)
        assert pa.concat_tables(pq.read_table(p) for p in parts).equals(
            src_file.read()
        ), t
        for p in parts:
            f = pq.ParquetFile(p)
            assert f.schema.equals(src_file.schema), t
            assert f.metadata.format_version == src_file.metadata.format_version
            assert f.metadata.num_row_groups == 1
            assert (f.metadata.row_group(0).column(0).compression
                    == src_file.metadata.row_group(0).column(0).compression)
        a, b = spark.read.parquet(staged), spark.read.parquet(src)
        assert a.schema == b.schema, t
        assert _digest(a) == _digest(b), t


def test_other_layouts_load_in_place(sf_dir, tmp_path, stage_root):
    corpus = tmp_path / "sf_x"
    corpus.mkdir()
    # a file whose row groups already give every piece one
    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet")
    pq.write_table(tbl, corpus / "lineitem.parquet", row_group_size=len(tbl) // 4 + 1)
    assert pq.ParquetFile(corpus / "lineitem.parquet").metadata.num_row_groups == 4
    assert split_layout(str(corpus), "lineitem", 4, floor=1) is None
    # ... while fewer row groups than pieces are split
    assert split_layout(str(corpus), "lineitem", 8, floor=1) is not None
    # a directory of part files
    (corpus / "orders.parquet").mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", corpus / "orders.parquet" / "part-0.parquet")
    assert split_layout(str(corpus), "orders", 4, floor=1) is None
    # a file below the floor: fewer than two pieces
    size = os.path.getsize(f"{sf_dir}/events.parquet")
    assert split_layout(sf_dir, "events", 4, floor=size // 2 + 1) is None
    assert split_layout(sf_dir, "events", 4, floor=size // 2) is not None
    # a path outside the local filesystem
    assert split_layout("hdfs://namenode:8020/corpus/sf0.01", "orders", 4, floor=1) is None
    # a missing file
    assert split_layout(str(corpus), "region", 4, floor=1) is None


def test_register_views_runs_no_spark_job(spark, sf_dir, restore_views):
    """The explicit footer schema replaces one inference job per table,
    and staging is pyarrow on the driver; a count() in the same job
    group is the positive control."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("split-register", "register_views job count")
    try:
        register_views(spark, sf_dir, force=True)
        assert tracker.getJobIdsForGroup("split-register") == []
        spark.table("lineitem").count()
        assert len(tracker.getJobIdsForGroup("split-register")) >= 1
    finally:
        sc.setJobGroup(None, None)


def test_footer_schema_equals_inferred(spark):
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for t in TABLES:
            path = f"{os.path.dirname(SMOKE_SF_DIR)}/{sf}/{t}.parquet"
            assert catalog.footer_schema(spark, path) == spark.read.parquet(path).schema, (sf, t)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_registered_tables_scan_one_task_per_piece(spark, restore_views, sf):
    """Each registered table has the rule's piece count, and its scan one
    partition per piece; at sf0.1 every lineitem scan task reads rows."""
    sf_dir = f"{os.path.dirname(SMOKE_SF_DIR)}/{sf}"
    par = spark.sparkContext.defaultParallelism
    register_views(spark, sf_dir, force=True)
    for t in TABLES:
        pieces = min(par, _size(sf_dir, t) // catalog.SPLIT_FLOOR)
        files = spark.table(t).inputFiles()
        assert len(files) == (pieces if pieces >= 2 else 1), t
        assert spark.table(t).rdd.getNumPartitions() == len(files), t
    if sf == "sf0.1":
        per_task = (spark.table("lineitem").groupBy(F.spark_partition_id())
                    .count().collect())
        assert len(per_task) == min(par, _size(sf_dir, "lineitem") // catalog.SPLIT_FLOOR)


def test_stage_dir_shared_per_parallelism(sf_dir, stage_root):
    a = split_layout(sf_dir, "lineitem", 4, floor=1)
    mtime = os.stat(a).st_mtime_ns
    assert split_layout(sf_dir, "lineitem", 4, floor=1) == a
    assert os.stat(a).st_mtime_ns == mtime  # reused, not rewritten
    b = split_layout(sf_dir, "lineitem", 2, floor=1)
    assert os.path.dirname(a) != os.path.dirname(b)
    assert [os.path.basename(os.path.dirname(p)) for p in (a, b)] == [
        f"split4_pid{os.getpid()}", f"split2_pid{os.getpid()}"
    ]
    assert len(catalog._parquet_parts(b)) == 2
    # no temp dir is left beside the published layouts
    assert not [e for e in os.listdir(os.path.dirname(a)) if e.startswith(".")]


@pytest.fixture(scope="module")
def forced_corpus(tmp_path_factory):
    """The suite's corpus with every table a directory of 4 pieces
    (``split_layout``'s floor forced down to 1 byte)."""
    corpus = tmp_path_factory.mktemp("forced") / os.path.basename(TEST_SF_DIR)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "STAGE_ROOT", str(corpus.parent / "stage"))
        for t in TABLES:
            shutil.copytree(split_layout(TEST_SF_DIR, t, 4, floor=1),
                            corpus / f"{t}.parquet")
    return str(corpus)


@pytest.fixture(scope="module")
def source_duck():
    con = duckdb_conn(TEST_SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("key", BENCH_KEYS)
def test_bench_keys_keep_parity_on_forced_split(spark, forced_corpus, source_duck,
                                                restore_views, key):
    """Every table of the corpus as a directory of 4 pieces: the
    benchmark keys still match their DuckDB oracles over the source."""
    compare(QUERIES[key](spark, forced_corpus), source_duck, ORACLES[key])

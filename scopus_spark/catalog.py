"""Table loaders + temp-view registry over the test corpus.

All ten corpus tables (FIXTURES.md) load through here so every gotcha shim
lives in exactly one place:

- G1: ``events.ts`` is parquet INT64 TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` Spark reads it as LongType
  nanos, which we convert to a real timestamp via ``timestamp_micros``.
  DuckDB reads the same column natively (truncating ns→µs on compare), so
  both engines see identical µs-precision timestamps.

Every table is read with an explicit schema, taken from its parquet
footer by Spark's own converter (``ParquetToSparkSchemaConverter``,
built from the session's SQLConf), so registration schedules no Spark
job: without it each ``spark.read.parquet`` runs one schema-inference
job.

Spark splits a parquet file only at row-group boundaries, and packs at
least ``openCostInBytes`` (4 MB) into each split, so a one-file,
one-row-group table scans as ONE task however many cores the session
has. ``register_views`` therefore re-lays out such a table as
``min(defaultParallelism, size // SPLIT_FLOOR)`` files of contiguous
row slices (``split_layout``), written by pyarrow on the driver with
the source's compression, parquet version and physical types, and
registers the view over them. Directories, files that already have
that many row groups, non-local paths and files below the floor load
in place (docs/SCALE.md "Scans: one task per core").

At 100 TB the same loader shape holds: explicit per-table load fn, schema
from the footer, no inference job, partition-discovery friendly paths.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import weakref
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_json_string

from scopus_spark.execution import spread
from scopus_spark.session import STAGE_ROOT, configure

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always broadcast-safe in star joins at any scale
# (region/nation are fixed-cardinality; supplier/part/customer bounded at the
# test tiers — at 100 TB only the fixed-cardinality ones stay in this set).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


# Smallest piece the split layout writes. Swept over the benchmark keys
# at 256 KB, 512 KB and 1 MB on 4 cores (CHANGES.md): 512 KB had the best
# median on both workloads, and a lower floor only adds smaller scan
# tasks on more cores (at 32 cores: lineitem 20 pieces, not 32).
SPLIT_FLOOR = 512 << 10
# pyarrow writer threads while staging one table's pieces
_WRITE_THREADS = 4


def _first_file(spark: SparkSession, path: str, hconf):
    """Hadoop Path of ``path`` itself, or of the first data file of the
    directory ``path`` (by name, hidden files skipped); None when the
    directory holds no file at its top level (a partitioned layout) or
    ``path`` does not exist (the read then raises Spark's own error)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        return None
    if not fs.getFileStatus(jpath).isDirectory():
        return jpath
    names = sorted(
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )
    return jvm.org.apache.hadoop.fs.Path(names[0]) if names else None


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    footer on the driver: Spark's ``readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session's SQLConf
    (so ``nanosAsLong`` and the NTZ inference hold). Inference reads the
    same first footer, but in a Spark job. None when ``_first_file``
    finds no file."""
    jss = spark._jsparkSession
    hconf = jss.sessionState().newHadoopConf()
    jfile = _first_file(spark, path, hconf)
    if jfile is None:
        return None
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pkg.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jfile, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    converter = pkg.ParquetToSparkSchemaConverter(jss.sessionState().conf())
    jschema = pkg.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(jfile, meta), converter
    )
    return _parse_datatype_json_string(jschema.json())


def _read(spark: SparkSession, path: str, name: str) -> DataFrame:
    """``path`` as corpus table ``name``, with its footer schema and the
    gotcha shims applied."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # G1 shim: nanos-as-long → microsecond timestamp. MUST be integer
        # division (`div`): ns epoch values (~1.7e18) exceed double's 53-bit
        # mantissa, so the FIXTURES.md recipe `(ts/1000).cast("long")` is off
        # by ±1µs. `div` truncates like DuckDB's native ns→µs conversion.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table, in place, with gotcha shims applied."""
    return _read(spark, f"{sf_dir}/{name}.parquet", name)


def _parquet_parts(path: str) -> list[str]:
    """A corpus table path is one parquet FILE at the test tiers and a
    DIRECTORY of part files at scale — the footer helpers below handle
    both."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return [path]


def row_count_estimate(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTER — driver-side metadata access,
    zero Spark jobs. This is the 'read it from the catalog' path a
    production deployment uses to size index parameters (e.g. IVF
    n_cells) at plan-build time; a `df.count()` would schedule a job per
    invocation, and building the RDD of a shuffling plan under AQE even
    materializes query stages, so plan construction must never touch
    either (tests/test_exact_candidates.py pins this for j31)."""
    import pyarrow.parquet as pq

    return int(
        sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in _parquet_parts(f"{sf_dir}/{name}.parquet")
        )
    )


# Tracks which sf_dir each live session currently has registered, so repeated
# queries() calls against the same dir skip re-registration. Weakly keyed by
# the session object, not id(spark): CPython reuses the id of a collected
# session, and a fresh session must never inherit its views' memo.
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _write_pieces(src: str, out: str, pieces: int) -> bool:
    """Write ``src`` as ``pieces`` files of contiguous row slices into
    ``out``, one row group each, with the source's codec and parquet
    version. False (``out`` left to the caller) when the result would
    not be the same physical layout: mixed codecs, or a piece whose
    parquet schema differs from the source's (e.g. a 1.0-format file
    holding nanosecond timestamps)."""
    import pyarrow.parquet as pq

    src_file = pq.ParquetFile(src)
    meta = src_file.metadata
    rg = meta.row_group(0)
    codecs = {rg.column(i).compression for i in range(rg.num_columns)}
    if len(codecs) != 1:
        return False
    (codec,) = codecs
    tbl = src_file.read()
    n = tbl.num_rows
    bounds = [n * i // pieces for i in range(pieces + 1)]

    def write(i: int) -> str:
        lo, hi = bounds[i], bounds[i + 1]
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(
            tbl.slice(lo, hi - lo), path, row_group_size=max(1, hi - lo),
            compression=codec, version=meta.format_version,
        )
        return path

    with ThreadPoolExecutor(min(_WRITE_THREADS, pieces)) as pool:
        paths = list(pool.map(write, range(pieces)))
    return pq.ParquetFile(paths[0]).schema.equals(src_file.schema)


def split_layout(
    sf_dir: str, name: str, parallelism: int, floor: int = SPLIT_FLOOR
) -> str | None:
    """The directory of ``pieces = min(parallelism, size // floor)``
    files that table ``name`` is registered from, or None when it loads
    in place: a directory, a non-local path, a file below ``2 * floor``
    or one that already has ``pieces`` row groups. Only the footer is
    read to decide.

    The layout is staged once per source file (path, size, mtime) and
    piece count under ``STAGE_ROOT/<sf>/split<parallelism>_pid<N>``:
    written to a hidden temp dir and renamed into place, so a second
    registration, or a concurrent one in another session of this
    process, reuses it. The stage dir is removed at exit, or by
    ``sweep_stale_stage_dirs`` once its process is dead."""
    import pyarrow.parquet as pq

    src = f"{sf_dir}/{name}.parquet"
    u = urlparse(src)
    if u.scheme not in ("", "file"):
        return None
    path = unquote(u.path)
    if not os.path.isfile(path):
        return None
    st = os.stat(path)
    pieces = min(parallelism, st.st_size // floor)
    if pieces < 2 or pq.ParquetFile(path).metadata.num_row_groups >= pieces:
        return None
    stage = os.path.join(
        STAGE_ROOT,
        os.path.basename(sf_dir.rstrip("/")),
        f"split{parallelism}_pid{os.getpid()}",
    )
    ident = f"{os.path.realpath(path)}|{st.st_size}|{st.st_mtime_ns}|{pieces}"
    final = os.path.join(
        stage, f"{name}-{hashlib.sha1(ident.encode()).hexdigest()[:12]}.parquet"
    )
    if os.path.isdir(final):
        return final
    if not os.path.isdir(stage):
        os.makedirs(stage, exist_ok=True)
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}-", dir=stage)
    try:
        if not _write_pieces(path, tmp, pieces):
            return None
        try:
            os.rename(tmp, final)
        except OSError:  # a concurrent registration published it first
            pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register all corpus tables as temp views named exactly as in
    FIXTURES.md, one-row-group files over their split layout. Runs no
    Spark job."""
    configure(spark)  # driver-provided sessions lack C4 confs until now
    if not force and _REGISTERED.get(spark) == sf_dir:
        return
    par = spark.sparkContext.defaultParallelism
    for t in TABLES:
        path = split_layout(sf_dir, t, par) or f"{sf_dir}/{t}.parquet"
        _read(spark, path, t).createOrReplaceTempView(t)
    _REGISTERED[spark] = sf_dir


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Convenience: register views for sf_dir and return one table."""
    register_views(spark, sf_dir)
    return spark.table(name)


def spread_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """table() under the one width rule, execution.spread: one task per
    core when the scan would give fewer splits than cores, the plain
    table otherwise. Use it for query paths whose map side runs heavy
    PER-ROW work (interpreted higher-order expressions, per-row md5
    chains, Python codecs)."""
    return spread(table(spark, sf_dir, name))

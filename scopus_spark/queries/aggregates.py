"""SURVEY §2.D — aggregation operators (d1–d14).

Reference capability: the RDBMS analysis tier of the scopus ETL pipeline
(SURVEY §1.1 [U]; mount empty, §0.1) — GROUP BY analytics over the
normalized bibliographic schema. Re-expressed here as Spark hash aggregates:
Catalyst plans partial (map-side) + final aggregation automatically, so
every groupBy below is one shuffle on the grouping keys and scales linearly
with executors.

Conventions: C3 round(·,4) on floating outputs, identical aliases both
sides (C2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scopus_spark.catalog import table
from scopus_spark.queries import _fp
from scopus_spark.registry import register


# --- d1: global aggregate, no grouping (TPC-H Q6 shape) ---------------------
@register(
    "d1",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def d1_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate with range predicates.

    Physical plan: parquet scan with pushed predicates -> partial agg per
    partition -> single-row final agg. No wide shuffle; at 100 TB the only
    cross-node traffic is one partial-agg row per task. Money sums use
    exact-decimal accumulation (_fp.py) so the value is partition-order-free.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _fp.dsum(_fp.m("l_extendedprice") * _fp.s("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- d2: multi-key, multi-expression hash aggregate (TPC-H Q1 shape) --------
Q1_CUTOFF = "1998-09-02"

@register(
    "d2",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE)        AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE)   AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)      AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) / count(*), 4)      AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / count(*), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4)      AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def d2_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: 8 aggregate expressions over 2 grouping keys.

    The engine's flagship query (entry()). Catalyst plans this as
    scan -> partial hash agg -> shuffle(2 keys, tiny) -> final hash agg,
    all inside whole-stage codegen; the shuffle carries only
    |groups| x |partitions| rows regardless of input size. Money sums are
    exact-decimal (_fp.py); averages are exact-sum / count rounded at 4dp.
    """
    li = table(spark, sf_dir, "lineitem")
    qty, price, disc = _fp.m("l_quantity"), _fp.m("l_extendedprice"), _fp.s("l_discount")
    disc_price = price * (1 - disc)
    charge = disc_price * (1 + _fp.s("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fp.dsum(qty, "sum_qty"),
            _fp.dsum(price, "sum_base_price"),
            _fp.dsum(disc_price, "sum_disc_price"),
            _fp.dsum(charge, "sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- d3: COUNT(DISTINCT) + multi-distinct ------------------------------------
@register(
    "d3",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS nd_parts,
           count(DISTINCT l_suppkey) AS nd_supps,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d3_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation: Catalyst rewrites via Expand (one pass,
    grouped by (keys, distinct-col) per distinct column) — no per-group
    hash-set blowup at scale."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.countDistinct("l_suppkey").alias("nd_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- d4: approximate count-distinct (HLL) — no exact oracle ------------------
@register("d4")
def d4_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (ROWS-only check; unit test asserts
    within ±5%% of exact). The 100 TB path: constant memory per group vs
    unbounded hash sets."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_nd_parts"),
        F.countDistinct("l_partkey").alias("exact_nd_parts"),
    )


# --- d5: HAVING (post-aggregation filter) ------------------------------------
@register(
    "d5",
    oracle="""
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS total_spend,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15 AND sum(CAST(o_totalprice AS DECIMAL(9,2))) > 2000000
    """,
)
def d5_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.sum(_fp.m("o_totalprice")).alias("_spend_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        agg.filter((F.col("n_orders") >= 15) & (F.col("_spend_dec") > 2000000))
        .select(
            "o_custkey",
            F.col("_spend_dec").cast("double").alias("total_spend"),
            "n_orders",
        )
    )


# --- d6: statistical aggregates ----------------------------------------------
# Small-magnitude columns keep cross-engine FP error orders of magnitude below
# the round-4 grid (_fp.py rationale).
@register(
    "d6",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_discount), 4) + 0.0        AS sd_disc,
           round(var_samp(l_discount), 4) + 0.0           AS var_disc,
           round(stddev_pop(l_tax), 4) + 0.0              AS sdp_tax,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           round(covar_samp(l_discount, l_tax), 4) + 0.0  AS cov_disc_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d6_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `+ 0.0` on BOTH engines after round(): IEEE -0.0 + 0.0 = +0.0, so a
    # near-zero covariance that rounds to signed zero hashes identically.
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_discount"), 4) + F.lit(0.0)).alias("sd_disc"),
        (F.round(F.var_samp("l_discount"), 4) + F.lit(0.0)).alias("var_disc"),
        (F.round(F.stddev_pop("l_tax"), 4) + F.lit(0.0)).alias("sdp_tax"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "corr_qty_price"
        ),
        (F.round(F.covar_samp("l_discount", "l_tax"), 4) + F.lit(0.0)).alias(
            "cov_disc_tax"
        ),
    )


# --- d7: exact percentile + median (DOUBLE inputs only, C6) -------------------
@register(
    "d7",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(median(l_quantity), 4)                  AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d7_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )


# --- d8: ordered collect (deterministic list aggregation, C5) -----------------
@register(
    "d8",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           count(*)                                            AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def d8_ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Output is the CSV string of the sorted list, not the array itself:
    # array-typed result columns are outside the harness's hashable surface
    # (representation policy R1, tests/test_representation.py).
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("l_linenumber")).cast("array<string>"), ","
        ).alias("line_numbers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- d9: ROLLUP hierarchy with grouping() markers ------------------------------
@register(
    "d9",
    oracle="""
    SELECT n.n_name, c.c_mktsegment,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(9,2))) AS DOUBLE) AS sum_bal,
           count(*) AS n_cust,
           CAST(grouping(n.n_name) AS INT)       AS g_nation,
           CAST(grouping(c.c_mktsegment) AS INT) AS g_segment
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
)
def d9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return joined.rollup("n_name", "c_mktsegment").agg(
        F.sum(_fp.m("c_acctbal")).cast("double").alias("sum_bal"),
        F.count(F.lit(1)).alias("n_cust"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.grouping("c_mktsegment").cast("int").alias("g_segment"),
    )


# --- d10: CUBE over 2 dims ------------------------------------------------------
@register(
    "d10",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price,
           count(*) AS n_orders,
           CAST(grouping(o_orderstatus) AS INT)   AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def d10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(_fp.m("o_totalprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


# --- d11: explicit GROUPING SETS (SQL entry point E2) ---------------------------
@register(
    "d11",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def d11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders")  # ensure view registered
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# --- d12: min_by / max_by (argmin/argmax) ----------------------------------------
# Tie-break: o_totalprice is 2dp so exact ties are possible within a customer;
# adding o_orderkey/1e9 (IEEE-deterministic both sides) makes the ordering total.
@register(
    "d12",
    oracle="""
    SELECT o_custkey,
           max_by(o_orderkey, o_totalprice + o_orderkey / 1000000000.0) AS most_expensive_order,
           min_by(o_orderkey, o_totalprice + o_orderkey / 1000000000.0) AS cheapest_order,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def d12_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rank_val = F.col("o_totalprice") + F.col("o_orderkey") / 1000000000.0
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", rank_val).alias("most_expensive_order"),
        F.min_by("o_orderkey", rank_val).alias("cheapest_order"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- d13: conditional aggregation -------------------------------------------------
@register(
    "d13",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_high_disc,
           CAST(sum(CASE WHEN l_tax > 0.04
                         THEN CAST(l_extendedprice AS DECIMAL(9,2))
                         ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE) AS taxed_price,
           CAST(count_if(l_linestatus = 'F') AS BIGINT) AS n_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d13_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, _fp.m("l_extendedprice")).otherwise(
                F.lit(0).cast(_fp.MONEY)
            )
        )
        .cast("double")
        .alias("taxed_price"),
        F.count_if(F.col("l_linestatus") == "F").alias("n_f"),
    )


# --- d14: pivot (segments x order-status matrix) ------------------------------------
@register(
    "d14",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(sum(CASE WHEN o.o_orderstatus = 'F'
                    THEN CAST(o.o_totalprice AS DECIMAL(9,2)) END) AS DOUBLE) AS F,
           CAST(sum(CASE WHEN o.o_orderstatus = 'O'
                    THEN CAST(o.o_totalprice AS DECIMAL(9,2)) END) AS DOUBLE) AS O,
           CAST(sum(CASE WHEN o.o_orderstatus = 'P'
                    THEN CAST(o.o_totalprice AS DECIMAL(9,2)) END) AS DOUBLE) AS P
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def d14_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — at scale the value list must be
    declared (implicit pivot collects distinct values to the driver)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(_fp.m("o_totalprice")).cast("double"))
    )


# --- d15: unpivot / melt (inverse of d14) -----------------------------------------
@register(
    "d15",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def d15_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (Spark 4 native `unpivot`/melt): part measures
    as (key, measure, val) rows. The oracle states the semantics as the
    equivalent UNION ALL — which is also the 100 TB mental model: unpivot
    is a map-side fan-out by the number of measure columns, no shuffle."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# --- d16: width_bucket histogram ---------------------------------------------------
@register(
    "d16",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE CAST(floor(o_totalprice / ((500000 - 0) / 20)) AS BIGINT) + 1
           END AS bucket,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def d16_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (DuckDB 1.0 lacks the
    function, so the oracle spells out the identical IEEE arithmetic —
    floor(v / ((max-min)/n)) + 1 with under/overflow buckets; bucket edges
    here are exact doubles so the floor is engine-identical). The
    histogram itself is one map-side bucket expr + hash agg."""
    o = table(spark, sf_dir, "orders")
    bucket = F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(20))
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


# --- d17: count-min sketch as a DataFrame composition -------------------------------
@register(
    "d17",
    oracle="""
    SELECT g.r AS hash_row,
           ('0x' || substr(md5(CAST(g.r AS VARCHAR) || ':'
                           || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 256
             AS bucket,
           count(*) AS cell_count
    FROM lineitem, (SELECT unnest(range(0, 4)) AS r) g
    GROUP BY 1, 2
    """,
)
def d17_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 hash rows x 256 buckets) over the l_partkey
    stream, built as a pure DataFrame composition: map-side 4x fan-out +
    ONE hash aggregate whose output is the fixed 1024-cell sketch — the
    shape that lets 1000 executors partial-aggregate locally and merge
    counters associatively (a CMS merge IS counter addition). md5-derived
    bucket hashes keep it engine-reproducible (unlike Spark's built-in
    binary count_min_sketch, whose estimates only unit tests could see).
    Point-estimate semantics (min over rows of the keyed cell) are
    asserted in unit tests: estimates never undercount."""
    from scopus_spark.operators.text import hash60

    li = table(spark, sf_dir, "lineitem")
    fan = li.select(
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("hash_row"), "l_partkey"
    )
    bucket = (
        hash60(
            F.concat(
                F.col("hash_row").cast("string"),
                F.lit(":"),
                F.col("l_partkey").cast("string"),
            )
        )
        % 256
    )
    return (
        fan.select("hash_row", bucket.alias("bucket"))
        .groupBy("hash_row", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


# --- d18: Bloom-filter bit set as a DataFrame composition ---------------------------
@register(
    "d18",
    oracle="""
    SELECT DISTINCT
           ('0x' || substr(md5(CAST(g.k AS VARCHAR) || ':'
                           || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % 2048
             AS bit_pos
    FROM orders, (SELECT unnest(range(0, 3)) AS k) g
    """,
)
def d18_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (3 hashes, 2048 bits) over the set of customers with
    orders, materialized as its set-bit positions: 3x map-side fan-out +
    one distinct — the bit-OR merge is associative, so partial filters
    union for free across executors. The classic 100 TB use is shipping
    this instead of a broadcast join key set (semi-join pre-filter with
    bounded size and a known false-positive rate). No-false-negative
    membership is asserted in unit tests."""
    from scopus_spark.operators.text import hash60

    o = table(spark, sf_dir, "orders")
    fan = o.select(
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"), "o_custkey"
    )
    bit = (
        hash60(
            F.concat(
                F.col("k").cast("string"),
                F.lit(":"),
                F.col("o_custkey").cast("string"),
            )
        )
        % 2048
    )
    return fan.select(bit.alias("bit_pos")).distinct()


# --- d19: boolean aggregate family --------------------------------------------------
@register(
    "d19",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice < 450000) AS all_under_450k,
           bool_or(o_orderstatus = 'F')    AS any_finished,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def d19_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any as bool_and/bool_or) — assertion-style
    data-quality checks expressed as one hash aggregate; partial aggregation
    makes them map-side short-circuiting at scale."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") < 450000).alias("all_under_450k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


# --- d20: approximate percentile sketch (ROWS + unit tolerance check) ---------------
@register("d20")
def d20_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) next to their
    exact counterparts — the constant-memory quantile path for 100 TB
    (exact percentile needs a full sort per group; the sketch is one
    mergeable accumulator per group). ROWS-only by design, like d4: two
    engines' sketches legitimately differ; the unit test bounds the
    approximation error against the exact values instead."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "p50_approx"
        ),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(1000)).alias(
            "p90_approx"
        ),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_exact"),
    )


# --- d21: ordered string aggregation (ANSI LISTAGG) ---------------------------------
@register(
    "d21",
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)
def d21_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered string aggregation — Spark 4's LISTAGG ... WITHIN GROUP
    (the SQL-standard form of d8's sort_array+array_join), deterministic
    because the delimiter order is declared. Exercised through the SQL
    interface (the one string-first API surface); DuckDB's equivalent is
    string_agg with ORDER BY. Output is a bounded string (<= 3 distinct
    status codes), representation-safe."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_d21_orders")
    return spark.sql(
        """
        SELECT o_custkey,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               count(*) AS n_orders
        FROM _d21_orders
        GROUP BY o_custkey
        """
    )


# --- d22: mergeable HLL sketches (Datasketches surface; ROWS + unit merge law) -------
@register("d22")
def d22_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate — the Apache DataSketches surface): per-flag
    part-key sketches plus an ALL row whose estimate comes from UNIONING
    the group sketches, never re-reading the data. The merge law is what
    matters at 100 TB: per-partition/per-day sketches union associatively,
    so corpus-wide distinct counts cost one tiny sketch-merge instead of
    a corpus-wide shuffle (d4 is the one-shot estimate; this is the
    maintainable one). Approximate by design -> ROWS-only here;
    tests/test_sketches.py asserts the union estimate lands within 5%
    of exact (same bound as a direct global sketch)."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    flags = per_flag.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("approx_parts")
    )
    merged = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_parts")
    ).select(F.lit("ALL").alias("l_returnflag"), "approx_parts")
    return flags.unionByName(merged)


# --- d23: bitwise aggregates (bitmap membership rollup) ------------------------------
@register(
    "d23",
    oracle="""
    WITH coded AS (
      SELECT o_custkey,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 4 END
               AS status_bit,
             CAST(o_orderkey % 16 AS BIGINT) AS key_nibble
      FROM orders
    )
    SELECT o_custkey,
           CAST(bit_or(status_bit)  AS BIGINT) AS status_bitmap,
           CAST(bit_and(key_nibble) AS BIGINT) AS nibble_and,
           CAST(bit_xor(key_nibble) AS BIGINT) AS nibble_xor,
           CAST(count(*) AS BIGINT)            AS n_orders
    FROM coded
    GROUP BY o_custkey
    """,
)
def d23_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates — the bitmap-rollup surface OLAP engines use
    for compact membership sets: each customer's orders fold into one
    BIGINT bitmap of order statuses seen (bit_or of per-status bits),
    plus bit_and/bit_xor over a bounded key nibble. All three are
    commutative+associative, so they partial-aggregate map-side and merge
    in any order — deterministic under any partitioning, and at 100 TB a
    64-flag membership rollup costs one BIGINT per group instead of a
    collect_set."""
    o = table(spark, sf_dir, "orders")
    coded = o.select(
        "o_custkey",
        F.when(F.col("o_orderstatus") == "F", 1)
        .when(F.col("o_orderstatus") == "O", 2)
        .otherwise(4)
        .alias("status_bit"),
        (F.col("o_orderkey") % 16).alias("key_nibble"),
    )
    return coded.groupBy("o_custkey").agg(
        F.bit_or("status_bit").cast("long").alias("status_bitmap"),
        F.bit_and("key_nibble").cast("long").alias("nibble_and"),
        F.bit_xor("key_nibble").cast("long").alias("nibble_xor"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- d24: exact percentile quality cutoffs (per-lang token-count p50/p90) ------------
@register(
    "d24",
    oracle="""
    WITH t AS (
      SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    q AS (
      SELECT lang,
             CAST(count(*) AS BIGINT)                     AS n_docs,
             round(quantile_cont(n_tok, 0.5), 6)          AS p50_tokens,
             round(quantile_cont(n_tok, 0.9), 6)          AS p90_tokens
      FROM t GROUP BY lang
    )
    SELECT q.lang, q.n_docs, q.p50_tokens, q.p90_tokens,
           CAST(count(*) FILTER (t.n_tok > q.p90_tokens) AS BIGINT)
             AS n_above_p90
    FROM q JOIN t ON q.lang = t.lang
    GROUP BY q.lang, q.n_docs, q.p50_tokens, q.p90_tokens
    """,
)
def d24_percentile_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile cutoffs per language — the quality-filter
    calibration step of a corpus pipeline (pick the p90 token-count
    threshold, count how many docs an above-p90 cut would touch). Spark's
    exact `percentile` and DuckDB's `quantile_cont` share the linear-
    interpolation definition; the interpolated values round to 6dp on
    both engines (interpolation arithmetic differs in the last ulp —
    87.2 vs 87.20000000000002) and the cutoff comparison uses the
    ROUNDED threshold so the count can never flip on engine ulp.

    Plan: one partial+final hash-agg pass for the percentiles (Spark's
    exact percentile aggregates a per-group sorted buffer; at 100 TB use
    approx_percentile — declared separately as d4's sketch family), then
    the tiny per-lang cutoff table broadcast-joins back for the count.
    """
    d = table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    q = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_tok", 0.5), 6).alias("p50_tokens"),
        F.round(F.percentile("n_tok", 0.9), 6).alias("p90_tokens"),
    )
    return (
        t.join(F.broadcast(q), "lang")
        .groupBy("lang", "n_docs", "p50_tokens", "p90_tokens")
        .agg(
            F.count(F.when(F.col("n_tok") > F.col("p90_tokens"), 1)).alias(
                "n_above_p90"
            )
        )
    )


# --- d25: mergeable HLL sketch rollup (incremental distinct counts) ------------------
@register(
    "d25",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS merged_within_2pct,
           TRUE AS oneshot_within_2pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d25_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count sketches (Apache DataSketches, built
    into Spark as hll_sketch_agg/hll_union_agg) — the production shape
    for incremental distinct counts at 100 TB: each daily/monthly batch
    persists a tiny fixed-size sketch (2^lgK registers, here lgK=14 →
    ~16 KB, ≤0.52% rse) instead of its raw keys, and any rollup window is
    answered by UNIONING stored sketches — never by re-scanning the
    corpus, and unlike approx_count_distinct the partial state is a
    first-class storable/mergeable column. This key builds per-month
    sketches of distinct part keys, merges them per returnflag, and
    checks BOTH the merged and the one-shot estimate land within 2% of
    the exact distinct count (lgK=14 gives 3.8 sigma of slack at the
    declared tolerance). The hashed output carries the exact count plus
    the two tolerance verdicts, so DuckDB (which has no DataSketches
    HLL) can reproduce it exactly; tests/test_aggregates.py additionally
    property-checks sketch-union associativity on splits of the data.
    Relationship to d22: d22 declares the union LAW (per-flag sketches +
    an ALL row, ROWS-only because estimates are approximate); d25 is the
    law's production rollup shape made HASH-auditable — time-bucketed
    partial sketches, merged, and VERIFIED against exact counts inside
    the query itself.

    Plan: two partial+final hash-agg passes (sketch build, sketch merge)
    plus one exact-distinct pass for the audit column; in production only
    the first pass touches data — the merge reads stored 16 KB sketches."""
    li = table(spark, sf_dir, "lineitem")
    per_month = li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.hll_sketch_agg("l_partkey", F.lit(14)).alias("sk"))
    merged = per_month.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("est_merged")
    )
    oneshot = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14))).alias(
            "est_oneshot"
        ),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    tol = 0.02
    return (
        merged.join(oneshot, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("est_merged") - F.col("exact_parts"))
                <= tol * F.col("exact_parts")
            ).alias("merged_within_2pct"),
            (
                F.abs(F.col("est_oneshot") - F.col("exact_parts"))
                <= tol * F.col("exact_parts")
            ).alias("oneshot_within_2pct"),
        )
    )


# --- d26: PIVOT (long -> wide conditional aggregation) -------------------------------
@register(
    "d26",
    oracle="""
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS TIMESTAMP)
             AS ship_month,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)))
                FILTER (l_returnflag = 'A') AS DOUBLE) AS rev_a,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)))
                FILTER (l_returnflag = 'N') AS DOUBLE) AS rev_n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)))
                FILTER (l_returnflag = 'R') AS DOUBLE) AS rev_r,
           CAST(count(*) FILTER (l_returnflag = 'A') AS BIGINT) AS n_a,
           CAST(count(*) FILTER (l_returnflag = 'N') AS BIGINT) AS n_n,
           CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_r
    FROM lineitem
    GROUP BY 1
    """,
)
def d26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — the long->wide reshape d15 unpivots: revenue and row count
    per ship mode, one column pair per return flag. The inverse surface of
    d15's unpivot completes the reshape pair.

    The pivot VALUES are passed explicitly (['A','N','R']): Spark's
    implicit variant first runs a separate distinct-scan job over the pivot
    column to discover them — an extra full pass over the fact table at
    100 TB, and a plan whose output schema isn't even known until runtime.
    With explicit values Catalyst compiles the pivot into exactly the plan
    the oracle spells out: ONE partial+final hash aggregate whose aggregate
    list is `sum(CASE WHEN flag = v ...)` per value — no extra pass, no
    wide shuffle, output schema static. Money sums follow the _fp exact-
    decimal rule; counts use a 0/1 conditional sum so the pivoted cell for
    an absent (mode, flag) combination matches the oracle's FILTER count
    of 0 rather than null.
    """
    li = table(spark, sf_dir, "lineitem")
    pivoted = (
        li.select(
            F.date_trunc("month", "l_shipdate").alias("ship_month"),
            "l_returnflag",
            _fp.m("l_extendedprice").alias("price"),
        )
        .groupBy("ship_month")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(
            F.sum("price").cast("double").alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "ship_month",
        F.col("A_rev").alias("rev_a"),
        F.col("N_rev").alias("rev_n"),
        F.col("R_rev").alias("rev_r"),
        F.coalesce(F.col("A_n"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("N_n"), F.lit(0)).cast("long").alias("n_n"),
        F.coalesce(F.col("R_n"), F.lit(0)).cast("long").alias("n_r"),
    )


# --- d27: relational count-min sketch, bit-identical cross-engine --------------------
_CMS_W, _CMS_D = 64, 4


def _cms_bucket(depth: int, key):
    """Row d of the CMS: top-60-bit md5 of "d:key", mod the sketch width.
    Same idiom as m1's split bucket, so DuckDB reproduces it exactly."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(depth)), key)), 1, 15),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


@register(
    "d27",
    oracle=f"""
    WITH probes AS (
      SELECT event_type, d,
             ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || event_type), 1, 15))
               ::BIGINT % {_CMS_W} AS bucket
      FROM events, range({_CMS_D}) t(d)
    ),
    cells AS (
      SELECT d, bucket, count(*) AS cnt FROM probes GROUP BY d, bucket
    ),
    keys AS (
      SELECT DISTINCT event_type, d, bucket FROM probes
    ),
    est AS (
      SELECT k.event_type, min(c.cnt) AS est
      FROM keys k JOIN cells c ON k.d = c.d AND k.bucket = c.bucket
      GROUP BY k.event_type
    ),
    exact AS (
      SELECT event_type, count(*) AS exact_cnt FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.est AS BIGINT) AS est,
           e.est >= x.exact_cnt AS est_ge_exact
    FROM est e JOIN exact x USING (event_type)
    """,
)
def d27_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch POINT-ESTIMATE tier (Cormode/Muthukrishnan 2005)
    — the probe side d17 stops short of: d17 builds and hash-checks the
    counter MATRIX but its estimates live only in a unit test; here the
    estimate (min over depths of the key's bucket counter) is computed
    IN the query by joining the distinct-key probe rows back to the
    4x64 cell relation, so the estimate VALUES themselves — not just an
    audit verdict — hash-identically against DuckDB running the same
    md5-bucket construction. The CMS one-sided guarantee (est >= exact,
    always; est <= exact + N*2/64 w.h.p.) rides along as an audited
    column next to the exact counts. Complements d25: HLL answers
    distinct-count rollups; CMS answers point-frequency lookups over a
    fixed O(1)-size state.

    Scale: the sketch relation is bounded at depth*width rows no matter
    the corpus — per-batch sketches merge by counter ADDITION (exact,
    unlike HLL's lossy union), so the production shape stores
    per-partition cells and rolls up by sum. The probe explode is
    map-side; its agg collapses to <= depth*width rows in the partial
    stage, so the shuffle moves KBs at any scale. The estimate join
    probes depth rows per distinct key against the tiny cell table
    (broadcast)."""
    ev = table(spark, sf_dir, "events")
    probes = ev.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(d, F.col("event_type")).alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("event_type", F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
    cells = probes.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    keys = probes.select("event_type", "d", "bucket").distinct()
    est = (
        keys.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("event_type")
        .agg(F.min("cnt").alias("est"))
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("est").cast("long").alias("est"),
        (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact"),
    )


# --- d28: robust outlier detection via grouped median + MAD -------------------------
@register(
    "d28",
    oracle="""
    WITH med AS (
      SELECT event_type, (min(value) + max(value)) / 2 AS med_v FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
      ) WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med_v) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, (min(adev) + max(adev)) / 2 AS mad_v FROM (
        SELECT event_type, adev,
               row_number() OVER (PARTITION BY event_type ORDER BY adev)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM dev
      ) WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      GROUP BY event_type
    )
    SELECT d.event_type,
           round(any_value(m2.med_v), 4) AS med_value,
           round(any_value(m.mad_v), 4) AS mad_value,
           CAST(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad_v) AS BIGINT)
             AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM dev d
    JOIN mad m USING (event_type)
    JOIN med m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def d28_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier audit: exact median + MAD (median absolute
    deviation), flagging values beyond the 3-sigma-equivalent robust fence
    ``|x - med| > 3 * 1.4826 * MAD`` (1.4826 = 1/Phi^-1(3/4) makes MAD a
    consistent sigma estimator under normality). Mean/stddev fences (the o6
    z-score tier) are themselves dragged by the outliers they hunt; the
    median/MAD pair has a 50% breakdown point, which is why production data
    quality monitors prefer it on heavy-tailed columns like events.value.

    Two-pass shape d7 (single exact percentile) can't express: pass 1
    computes each group's exact median; the 5-row result broadcast-joins
    back onto the fact scan so deviations are map-side; pass 2 takes the
    median of deviations (MAD) per group; the final broadcast join counts
    fence-breakers.

    FP determinism (the _fp.py C3 rules): the median is rendered from
    EXPLICIT ORDER STATISTICS on both engines — the (n+1)//2-th and
    (n+2)//2-th smallest per group, combined as (min+max)/2 — instead of
    leaning on Spark's percentile(0.5) and DuckDB's median() agreeing on
    even-group interpolation internals (an engine-version coupling, and
    the UNROUNDED mad_v feeds the fence comparison). Values at a given
    rank of a sorted multiset are tie-order-independent, and (v+v)/2 == v
    exactly in IEEE, so the two-rank form is bit-deterministic.

    Scale: the fact table is scanned twice (the price of EXACT medians —
    the approx tier is d20); an exact median is holistic either way
    (percentile() buffers each group's values inside one agg state just
    as the rank window sorts them in one task), so the two-rank window
    costs the same concentration it replaces. Every other exchange
    carries <= n_groups rows, both join-backs are broadcasts, and the
    outlier count aggregates map-side.
    """
    ev = table(spark, sf_dir, "events")

    def _two_rank_median(df: DataFrame, val: str, out: str) -> DataFrame:
        wrk = Window.partitionBy("event_type").orderBy(val)
        wall = Window.partitionBy("event_type")
        k1 = F.floor((F.col("cnt") + 1) / 2)
        k2 = F.floor((F.col("cnt") + 2) / 2)
        return (
            df.select(
                "event_type",
                F.col(val),
                F.row_number().over(wrk).alias("rn"),
                F.count(F.lit(1)).over(wall).alias("cnt"),
            )
            .filter((F.col("rn") == k1) | (F.col("rn") == k2))
            .groupBy("event_type")
            .agg(((F.min(val) + F.max(val)) / 2).alias(out))
        )

    med = _two_rank_median(ev, "value", "med_v")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med_v")).alias("adev")
    )
    mad = _two_rank_median(dev, "adev", "mad_v")
    fence = F.lit(3 * 1.4826) * F.col("mad_v")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med_v"), 4).alias("med_value"),
            F.round(F.first("mad_v"), 4).alias("mad_value"),
            F.count_if(F.col("adev") > fence).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


# --- d29: per-group OLS revenue trend (exact normal equations) ---------------------
@register(
    "d29",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name,
             (year(o.o_orderdate) - 1992) * 12 + (month(o.o_orderdate) - 1)
               AS m,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(9,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                  AS DECIMAL(15,4)) AS rev
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT n_name,
             CAST(count(*) AS DOUBLE)            AS n,
             CAST(sum(m) AS DOUBLE)              AS sx,
             CAST(sum(m * m) AS DOUBLE)          AS sxx,
             CAST(sum(rev) AS DOUBLE)            AS sy,
             CAST(sum(CAST(m AS DECIMAL(19,0)) * rev) AS DOUBLE) AS sxy,
             CAST(sum(CAST(rev AS DECIMAL(19,4)) * rev) AS DOUBLE) AS syy,
             count(*)                            AS n_months
      FROM monthly GROUP BY n_name
    )
    SELECT n_name,
           (n * sxy - sx * sy) / (n * sxx - sx * sx)  AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2,
           n_months
    FROM stats
    """,
)
def d29_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS revenue trend over monthly points — slope, intercept
    and R^2 of rev ~ month, the grouped-regression analytic every
    portfolio dashboard runs.

    FP determinism is the whole design (the _fp.py C3 rules): the naive
    rendering — regr_slope over double sums — is run-order dependent in
    BOTH engines (parallel partial aggregation of doubles), so instead
    the normal-equation SUFFICIENT STATISTICS (n, Σx, Σx², Σy, Σxy, Σy²)
    are accumulated in EXACT integer/decimal arithmetic (month index is
    a small int; revenue an exact DECIMAL(15,4); rev² fits (31,8) under
    both engines' 38-digit cap), each cast to double ONCE, and
    slope/intercept/R² derived with an identical per-row IEEE expression
    on both sides — bit-identical without rounding. The regr_slope /
    regr_intercept / regr_r2 builtins are property-tested equal (1e-9)
    in tests/test_regression_trend.py, so the builtin surface is
    covered while the hash gate rides the deterministic rendering.

    Scale: two map-side-combinable aggs (lineitem -> nation-month ->
    nation); dims broadcast; the second agg's input is <= n_nations *
    n_months rows. Zero windows, zero double-summation."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("m"),
        )
        .agg(
            F.sum(_fp.m("l_extendedprice") * (1 - _fp.s("l_discount")))
            .cast("decimal(15,4)")
            .alias("rev")
        )
    )
    st = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("m").cast("double").alias("sx"),
        F.sum(F.col("m") * F.col("m")).cast("double").alias("sxx"),
        F.sum("rev").cast("double").alias("sy"),
        F.sum(F.col("m") * F.col("rev")).cast("double").alias("sxy"),
        F.sum(F.col("rev") * F.col("rev")).cast("double").alias("syy"),
        F.count(F.lit(1)).alias("n_months"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return st.select(
        "n_name",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        (
            (num * num)
            / (den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
        ).alias("r2"),
        "n_months",
    )


# --- d30: exact heavy hitters via Misra-Gries candidates + recount -----------------
@register(
    "d30",
    oracle="""
    WITH wf AS (
      SELECT word
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0
    ),
    n AS (SELECT count(*) AS n_words FROM wf),
    cnt AS (SELECT word, count(*) AS cnt FROM wf GROUP BY word)
    SELECT word, cnt, n_words
    FROM cnt CROSS JOIN n
    WHERE cnt * 65 > n_words
    """,
)
def d30_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters — every word with frequency strictly
    above W/(k+1) of the W total words (k = 64) — via the two-pass
    sketch-then-verify pattern that IS the 100 TB frequency workhorse:

    Pass 1: per-partition weighted Misra-Gries (k counters; batch merge
    reduces by subtracting the (k+1)-th largest count, the mergeable-
    summaries bound of Agarwal et al.: per-key undercount <= W_p/(k+1)).
    The union of partition candidates is therefore a PROVABLE superset
    of every global heavy hitter — a word missed everywhere has total
    count <= sum_p W_p/(k+1) = W/(k+1). Candidate traffic is bounded by
    partitions x k rows, independent of corpus or vocabulary size; the
    same pass emits per-partition totals as sentinel rows, so the
    threshold denominator costs no extra corpus scan.

    Pass 2: exact recount of candidates only (the driver-sized candidate
    list prunes the scan as an In predicate — the fact side shuffles
    nothing but candidate rows), then the integer cross-multiplied
    threshold cnt * (k+1) > W — no float division anywhere, so the
    output equals the oracle's direct GROUP BY HAVING word for word;
    which EXTRA candidates MG emitted is partitioning-dependent but
    filtered back out by the exact count, so the result is
    partitioning-invariant (tests/test_heavy_hitters.py runs the
    SHARED operator under 1/3/13 partitions).

    The oracle pays the full-vocabulary aggregation; this plan
    (operators/frequency.exact_heavy_hitters) pays k-bounded state per
    partition plus a candidates-only count — the asymmetry is the point
    (same semantics, scale-appropriate plans)."""
    from scopus_spark.operators.frequency import exact_heavy_hitters
    from scopus_spark.operators.text import tokens

    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens("text")).alias("w")).filter(
        F.length("w") > 0
    )
    return exact_heavy_hitters(words, k=64)


# --- d31: EXACT global median via sketch-bracket + distributed selection -----------
@register(
    "d31",
    oracle="""
    WITH o AS (
      SELECT l_extendedprice AS v,
             row_number() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem
    ),
    n AS (SELECT count(*) AS n FROM lineitem)
    SELECT n.n AS n_rows, CAST(avg(o.v) AS DOUBLE) AS median
    FROM o, n
    WHERE o.rn IN ((n.n + 1) // 2, (n.n + 2) // 2)
    GROUP BY n.n
    """,
)
def d31_exact_median_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of a 100-TB-wide column WITHOUT a global sort
    — the order-statistic selection problem d7's F.percentile (collects
    each group's values) cannot survive at corpus scale:

    Pass 1 (one scan): count n + a Greenwald-Khanna sketch bracketing
    the median — quantiles 0.5 +- 5e-4 at accuracy 2e4 give value bounds
    [lo, hi] whose rank error (n/accuracy = 5e-5 n) is 10x inside the
    bracket margin, so the true median ranks PROVABLY land in the
    bracket (asserted at runtime, not assumed).

    Pass 2 (one conditional-agg scan for both boundary counts), then
    the f4 two-level rank over ONLY the checkpoint-pinned bracket rows
    (range partition -> local row_number + broadcast partition-ledger
    offsets — no single-task window): the global k-th smallest is the
    (k - c_lo)-th smallest in the bracket.
    Median = avg of the (n+1)//2 and (n+2)//2 order statistics — exact
    element values, so the result is hash-identical to the oracle's
    full row_number scan; tie order inside equal values is irrelevant
    to the selected VALUE.

    Bracket size is O(n / accuracy) rows — the knob trades pass-2
    shuffle volume against sketch memory; at accuracy 2e4 a 1e12-row
    corpus brackets to ~1e8 rows, a small range shuffle. CONSTRUCTION
    runs the two passes (driver gets 5 scalars — same adjudication as
    n12/j45/j46). Shared operator: operators/frequency.exact_median
    (edge cases — odd/even n, all-duplicate columns, the bracket-miss
    guard firing — pinned in tests/test_median.py)."""
    from scopus_spark.operators.frequency import exact_median

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    return exact_median(li, "v", accuracy=20000, margin=5e-4)


# --- d32: exact mode per group (marginal vs joint) -----------------------------------
@register(
    "d32",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS pri,
             o.o_orderstatus AS st
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    mode_pri AS (
      SELECT segment, pri FROM (
        SELECT segment, pri,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY count(*) DESC, pri) AS rn
        FROM j GROUP BY segment, pri
      ) WHERE rn = 1
    ),
    mode_st AS (
      SELECT segment, st FROM (
        SELECT segment, st,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY count(*) DESC, st) AS rn
        FROM j GROUP BY segment, st
      ) WHERE rn = 1
    ),
    mode_joint AS (
      SELECT segment, pri AS jpri, st AS jst FROM (
        SELECT segment, pri, st,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY count(*) DESC, pri, st) AS rn
        FROM j GROUP BY segment, pri, st
      ) WHERE rn = 1
    )
    SELECT p.segment, p.pri AS mode_priority, s.st AS mode_status,
           x.jpri AS joint_priority, x.jst AS joint_status
    FROM mode_pri p
    JOIN mode_st s USING (segment)
    JOIN mode_joint x USING (segment)
    """,
)
def d32_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT MODE per group with a deterministic tie-break — the
    categorical summary statistic the d-family lacked (engines ship
    mode() with unspecified ties; hash-gated pipelines need (count DESC,
    value ASC) pinned on both sides). Emits per market segment the modal
    order priority, the modal status, AND the modal JOINT
    (priority, status) pair — the joint mode is deliberately not derived
    from the marginals (mode(X), mode(Y)) != mode(X, Y) in general,
    which is why it must be computed as its own aggregate.

    Scale: ONE pass over the fact — the joint groupBy(segment, pri, st)
    counts (map-side partials, enum-bounded exchange of
    |segments| x |domains| rows) are shuffled once (every reader shares
    the exchange through ReusedExchange) and BOTH marginals
    re-aggregate from those few joint rows (sum of joint counts = the
    marginal count, exactly); each mode is then a segment-partitioned
    top-1 window over a handful of rows. The customer dim broadcasts
    into the fact join. No sort of the fact table anywhere, and the
    fact is scanned once, not once per mode."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    )
    joint = j.groupBy("segment", "pri", "st").agg(F.count(F.lit(1)).alias("c"))

    def mode_of(cols: list[str], out_names: list[str]) -> DataFrame:
        w = Window.partitionBy("segment").orderBy(
            F.col("c").desc(), *[F.col(x) for x in cols]
        )
        agg = joint.groupBy("segment", *cols).agg(F.sum("c").alias("c"))
        top = agg.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )
        return top.select(
            "segment",
            *[F.col(x).alias(n) for x, n in zip(cols, out_names)],
        )

    return (
        mode_of(["pri"], ["mode_priority"])
        .join(mode_of(["st"], ["mode_status"]), "segment")
        .join(
            mode_of(["pri", "st"], ["joint_priority", "joint_status"]),
            "segment",
        )
    )


# --- d33: KMV distinct sketches with union/intersection estimates --------------------
_D33_K = 20
# deterministic hash-to-(0,1]: top-60-bit md5 int h, u = (h+1)/2^60 (the
# m9 construction — bit-identical across engines)
_D33_U_SQL = (
    "((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1)"
    " / 1152921504606846976.0)"
)


@register(
    "d33",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id, {_D33_U_SQL} AS u
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    sets AS (
      SELECT event_type AS set_name, user_id, u FROM du
      UNION ALL
      SELECT 'click|purchase', user_id, u FROM
        (SELECT DISTINCT user_id, u FROM du)
    ),
    ranked AS (
      SELECT set_name, u,
             row_number() OVER (PARTITION BY set_name ORDER BY u) AS rn
      FROM sets
    ),
    kth AS (
      SELECT set_name, u AS u_k FROM ranked WHERE rn = {_D33_K}
    ),
    exact AS (
      SELECT set_name, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM sets GROUP BY set_name
    )
    SELECT e.set_name,
           CASE WHEN k.u_k IS NULL THEN CAST(e.exact_distinct AS DOUBLE) + 0.0
                ELSE round(({_D33_K} - 1) / k.u_k, 6) + 0.0 END AS est_distinct,
           e.exact_distinct
    FROM exact e LEFT JOIN kth k USING (set_name)
    """,
)
def d33_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) DISTINCT sketches with a set
    algebra HLL cannot give you cheaply (Bar-Yossef et al. 2002; the
    theta-sketch core): keep the k smallest deterministic hash values of
    each set; est = (k-1)/u_k. Because the sketch is the k smallest
    CONTENT-HASH values — not an RNG draw and not a lossy register array
    — two engines compute bit-identical sketches, the UNION sketch is
    just bottom-k of the merged value set (mergeable, map-side partial),
    and intersections follow by inclusion–exclusion on exact-replayable
    estimates. Emitted per set (click, purchase, click|purchase):
    rounded estimate next to the exact distinct count; the unit test
    pins |est/exact - 1| within the k-governed error bound, and
    intersection-by-IE is derived in the test from these three rows.
    Small-set rule: a set with fewer than k distinct members has no
    k-th minimum — its sketch holds every member, so the EXACT count is
    emitted as the estimate (left join; never silently dropped).

    Scale: one (set, user) distinct shuffle, then bottom-k per set. The
    per-set rank runs over hash-DISTINCT values only; in production the
    scan side pre-filters u <= t (any t with >= k survivors per set
    keeps the sketch EXACTLY equal — the j39 expression-bound pattern),
    so the exchange carries ~t·D rows per set, not D. Estimator error
    ~1/sqrt(k-2): k=20 ≈ 24%, k=1024 ≈ 3% — k is the precision knob and
    the only state."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(1152921504606846976.0)
    du = ev.select(
        F.col("event_type").alias("set_name"), "user_id", u.alias("u")
    ).distinct()
    union_set = du.select("user_id", "u").distinct().select(
        F.lit("click|purchase").alias("set_name"), "user_id", "u"
    )
    sets = du.unionByName(union_set)
    w = Window.partitionBy("set_name").orderBy("u")
    ranked = sets.withColumn("rn", F.row_number().over(w))
    kth = ranked.filter(F.col("rn") == _D33_K).select(
        "set_name", F.col("u").alias("u_k")
    )
    exact = sets.groupBy("set_name").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    # small-set rule (standard KMV): a set with < k distinct members has
    # no k-th value — the sketch holds EVERY member, so the exact count
    # IS the estimate (a bare inner join would silently drop the set)
    est = (
        F.when(
            F.col("u_k").isNull(),
            F.col("exact_distinct").cast("double"),
        ).otherwise(F.round(F.lit(_D33_K - 1) / F.col("u_k"), 6))
        + F.lit(0.0)
    )
    return exact.join(kth, "set_name", "left").select(
        "set_name", est.alias("est_distinct"), "exact_distinct"
    )

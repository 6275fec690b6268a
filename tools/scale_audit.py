"""Scale-growth corpus (round 10, VERDICT r9 next-round item 1).

Generates an sf1-shaped corpus (~10x sf0.1) by DETERMINISTIC
replication of the driver's sf0.1 tables into a scratch dir — never
touching the source corpus. Per-key growth is then two profiles and
their diff:

  python tools/profile.py --keys j53,j49 --out sf01.json
  python tools/profile.py --keys j53,j49 --sf-dir <out> --out sf1.json
  python tools/profile.py --diff sf01.json sf1.json

Generation contract (factor N, copy i = 0..N-1):
- every entity key shifts by i * (max_key + 1): copies are disjoint;
- copy 0 is byte-identical to the source, so distributions (value
  ranges, dup families, skew) replicate exactly N times;
- documents.text perturbs every 5th word (offset i % 5) with a
  copy-tag suffix on copies i > 0: shingles of length >= 5 always
  contain a perturbed word, so near-dup candidate structure stays
  WITHIN copies (the dedup keys scale by family count, not by an
  artificial 10-way cross-copy dup explosion); n_chars recomputed;
- embeddings sign-flip a deterministic half of the dimensions per
  copy (norms preserved, copies decorrelated) so ANN neighbor
  structure scales by population, not by 10 identical twins per
  vector;
- fact foreign keys (lineitem->orders/part/supplier, orders->customer,
  events->user) shift consistently; region/nation stay fixed dims.

Usage:
  python tools/scale_audit.py gen  [--out /tmp/scopus_spark_scale/sf1] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = "/tmp/scopus_spark_scale/sf1"


def _spark() -> SparkSession:
    from scopus_spark.session import get_spark

    return get_spark(app_name="scale_audit")


def _shift(col: str, width: int):
    return (F.col(col) + F.col("_copy") * F.lit(width)).alias(col)


def gen(out: str, factor: int) -> None:
    spark = _spark()
    os.makedirs(out, exist_ok=True)
    copies = spark.range(factor).withColumnRenamed("id", "_copy")

    def _max(table: str, col: str) -> int:
        return (
            spark.read.parquet(f"{SRC}/{table}.parquet")
            .agg(F.max(col))
            .collect()[0][0]
            + 1
        )

    w_cust = _max("customer", "c_custkey")
    w_supp = _max("supplier", "s_suppkey")
    w_part = _max("part", "p_partkey")
    w_ord = _max("orders", "o_orderkey")
    w_evt = _max("events", "event_id")
    w_user = _max("events", "user_id")
    w_doc = _max("documents", "doc_id")
    w_vec = _max("embeddings", "vec_id")

    def _write(name: str, df) -> None:
        # single FILE (not a dir): several keys read the footer via
        # pyarrow at {dir}/{name}.parquet, matching the driver corpus
        import glob as _glob
        import shutil as _shutil

        tmp = f"{out}/_tmp_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = _glob.glob(f"{tmp}/part-*.parquet")
        _shutil.move(part, f"{out}/{name}.parquet")
        _shutil.rmtree(tmp, ignore_errors=True)
        path = f"{out}/{name}.parquet"
        print(f"  {name}: {spark.read.parquet(path).count()} rows")

    for dim in ("region", "nation"):
        _write(dim, spark.read.parquet(f"{SRC}/{dim}.parquet"))

    c = spark.read.parquet(f"{SRC}/customer.parquet").crossJoin(copies)
    _write(
        "customer",
        c.select(
            _shift("c_custkey", w_cust),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        ),
    )
    s = spark.read.parquet(f"{SRC}/supplier.parquet").crossJoin(copies)
    _write(
        "supplier",
        s.select(
            _shift("s_suppkey", w_supp), "s_name", "s_nationkey", "s_acctbal"
        ),
    )
    p = spark.read.parquet(f"{SRC}/part.parquet").crossJoin(copies)
    _write(
        "part",
        p.select(
            _shift("p_partkey", w_part),
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            "p_retailprice",
        ),
    )
    o = spark.read.parquet(f"{SRC}/orders.parquet").crossJoin(copies)
    _write(
        "orders",
        o.select(
            _shift("o_orderkey", w_ord),
            _shift("o_custkey", w_cust),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ),
    )
    li = spark.read.parquet(f"{SRC}/lineitem.parquet").crossJoin(copies)
    _write(
        "lineitem",
        li.select(
            _shift("l_orderkey", w_ord),
            _shift("l_partkey", w_part),
            _shift("l_suppkey", w_supp),
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ),
    )
    e = spark.read.parquet(f"{SRC}/events.parquet").crossJoin(copies)
    _write(
        "events",
        e.select(
            _shift("event_id", w_evt),
            "ts",
            _shift("user_id", w_user),
            "event_type",
            "value",
            "props",
        ),
    )
    d = spark.read.parquet(f"{SRC}/documents.parquet").crossJoin(copies)
    text = F.when(F.col("_copy") == 0, F.col("text")).otherwise(
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, idx: F.when(
                    idx % 5 == F.col("_copy") % 5,
                    F.concat(
                        w, F.lit("~"), F.col("_copy").cast("string")
                    ),
                ).otherwise(w),
            ),
            " ",
        )
    )
    _write(
        "documents",
        d.select(
            _shift("doc_id", w_doc),
            text.alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text").cast("long")),
    )
    v = spark.read.parquet(f"{SRC}/embeddings.parquet").crossJoin(copies)
    emb = F.when(F.col("_copy") == 0, F.col("embedding")).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x, idx: x
            * (
                F.lit(1.0)
                - 2.0
                * ((F.col("_copy") * 31 + idx) % 2).cast("double")
            ).cast("float"),
        )
    )
    _write(
        "embeddings",
        v.select(
            _shift("vec_id", w_vec),
            emb.cast("array<float>").alias("embedding"),
            "label",
        ),
    )
    print(f"sf1 corpus at {out} (factor {factor})")


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("--out", default=DEFAULT_OUT)
    g.add_argument("--factor", type=int, default=10)
    a = ap.parse_args()
    gen(a.out, a.factor)


if __name__ == "__main__":
    main()

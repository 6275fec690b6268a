"""Exact frequency/order statistics at corpus scale (SURVEY §2.D tier).

Two sketch-then-verify operators whose OUTPUT is exact (hash-gated
against direct SQL renderings) while the PLAN is the one that survives
100 TB: bounded sketch state finds a provably sufficient candidate set,
then one exact pass confines the expensive work to the candidates.

- exact_heavy_hitters: per-partition weighted Misra-Gries candidates
  (mergeable-summaries undercount bound) + exact recount.
- exact_median: Greenwald-Khanna value bracket (runtime-asserted rank
  coverage) + two-level-rank selection inside the bracket only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scopus_spark import execution


def exact_heavy_hitters(
    words: DataFrame, k: int = 64, col: str = "w"
) -> DataFrame:
    """(word, cnt, n_words) for every word with cnt * (k+1) > n_words —
    EXACT, partitioning-invariant, two corpus scans total, and a
    candidate fan-in bounded by k REGARDLESS of partition count.

    Pass 1 (one scan): per-partition weighted Misra-Gries with k
    counters; each batch merge subtracts the (k+1)-th largest count.
    The partition summaries (RESIDUAL counts, not just keys) are then
    MG-MERGED distributedly — sum residuals per word (one tiny shuffle
    over <= partitions x (k+1) rows), then subtract the (k+1)-th
    largest merged value m. Agarwal et al.'s mergeable-summaries
    theorem makes the decrements compose: every decrement of size m_i
    removes >= (k+1) * m_i true mass, so Sum(m_i) <= W/(k+1) across
    partition passes AND the merge, and any word with global count
    > W/(k+1) keeps a strictly positive merged residual (> m). The
    global candidate set is therefore <= k keys — the driver collects
    k+1 rows and one scalar total, NEVER partitions x k rows, so the
    recount's In-list stays k literals at 10^5 input partitions just
    as at 32. The same pass emits each partition's total word count as
    a null-key sentinel row, so the threshold denominator costs no
    extra scan.

    Pass 2 (one scan): exact recount of the <= k candidates only; the
    fact side never shuffles anything but candidate rows, and the
    integer cross-multiplied threshold folds in as a literal. Which
    EXTRA candidates MG emitted is partitioning-dependent, but the
    exact filter removes them, so the output is partitioning-invariant
    (tests/test_heavy_hitters.py runs THIS function under 1/3/13/256
    partitions).

    CONSTRUCTION runs pass 1 (the n12/j45/j46 adjudication — sketch
    results are driver-sized by design, the treeAggregate shape);
    nothing is left pinned in executor storage between calls.
    """
    src = words.select(F.col(col).alias("w"))

    def mg_partial(batches):
        from collections import Counter

        import numpy as np
        import pandas as pd

        c: Counter = Counter()
        w_p = 0
        for pdf in batches:
            w_p += len(pdf)
            c.update(pdf["w"].tolist())
            if len(c) > k:
                vals = np.fromiter(c.values(), dtype=np.int64)
                m = np.partition(vals, -(k + 1))[-(k + 1)]
                c = Counter({w: n - m for w, n in c.items() if n > m})
        if w_p:
            yield pd.DataFrame(
                {
                    "w": list(c.keys()) + [None],
                    "cnt": list(c.values()) + [w_p],
                }
            )

    # Distributed merge of the partition summaries: <= parts x (k+1)
    # rows in, one map-side-combinable sum out. The cut materializes the
    # sketch pass once so the total and the top-(k+1) read ONE evaluation.
    merged = execution.cut(
        src.mapInPandas(mg_partial, "w string, cnt long")
        .groupBy("w")
        .agg(F.sum("cnt").alias("cnt")),
        eager=True,
    )
    n_words = int(
        merged.filter(F.col("w").isNull())
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)))
        # bounded: 1-row global aggregate
        .collect()[0][0]
    )
    top = (
        merged.filter(F.col("w").isNotNull())
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(k + 1)
        # bounded: limit(k+1) heavy-hitter candidates
        .collect()
    )
    m_final = int(top[k].cnt) if len(top) == k + 1 else 0
    cand_list = sorted(r.w for r in top if int(r.cnt) > m_final)
    if not cand_list:
        return words.sparkSession.createDataFrame(
            [], "word string, cnt long, n_words long"
        )
    return (
        src.filter(F.col("w").isin(cand_list))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * (k + 1) > F.lit(n_words))
        .select(
            F.col("w").alias("word"),
            "cnt",
            F.lit(n_words).cast("long").alias("n_words"),
        )
    )


def exact_median(
    vals: DataFrame,
    col: str = "v",
    accuracy: int = 20000,
    margin: float = 5e-4,
    bracket: tuple[float, float] | None = None,
    n_range_parts: int = 32,
) -> DataFrame:
    """1-row (n_rows, median) — the EXACT median (avg of the (n+1)//2
    and (n+2)//2 order statistics) without a global sort.

    Pass 1: count + GK sketch at quantiles 0.5 -+ margin gives value
    bounds [lo, hi]; the sketch's rank error (n/accuracy) is 10x inside
    the margin at the defaults, so the target ranks PROVABLY land in
    the bracket — ASSERTED at runtime, never assumed (`bracket`
    overrides the sketch for tests to prove the guard fires).

    Pass 2: ONE conditional aggregate yields both boundary counts
    (below-bracket mass and bracket size), then a two-level rank over
    ONLY the bracket rows (range partition -> local row_number +
    broadcast partition-size ledger — f4's trick, no single-task
    window; the ranged bracket is cut (execution.cut) so the ledger
    and the rank stream can never observe different partition
    boundaries): the global k-th smallest is the (k - c_lo)-th smallest
    in the bracket.
    Tie order among equal values cannot change the selected VALUE, so
    the result is hash-identical to a full row_number scan.

    Bracket volume is O(n * (margin + 2/accuracy)) rows — the knob
    trading pass-2 shuffle against sketch memory. CONSTRUCTION runs the
    two passes (driver receives 5 scalars — the n12/j45/j46
    adjudication).
    """
    li = vals.select(F.col(col).alias("v"))
    st = li.agg(
        F.count("v").alias("n"),
        F.percentile_approx(
            "v", F.array(F.lit(0.5 - margin), F.lit(0.5 + margin)), accuracy
        ).alias("b"),
        # bounded: 1-row aggregate (count + two approx quantiles)
    ).collect()[0]
    n = int(st.n)
    if n == 0:
        raise ValueError("median of an empty input")
    lo, hi = bracket if bracket is not None else (st.b[0], st.b[1])
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    # One conditional aggregate covers both boundary counts — pass 2's
    # pre-selection is a single scan, not two.
    cc = li.agg(
        F.sum(F.when(F.col("v") < lo, 1).otherwise(0)).alias("c_lo"),
        F.sum(
            F.when((F.col("v") >= lo) & (F.col("v") <= hi), 1).otherwise(0)
        ).alias("n_br"),
        # bounded: 1-row aggregate (two boundary counts)
    ).collect()[0]
    c_lo, n_br = int(cc.c_lo or 0), int(cc.n_br or 0)
    if not (c_lo < k1 and c_lo + n_br >= k2):
        raise RuntimeError(
            f"median bracket missed: c_lo={c_lo} n_br={n_br} k=({k1},{k2})"
        )
    br = li.filter((F.col("v") >= lo) & (F.col("v") <= hi))
    # The cut fixes the range boundaries: the offsets ledger and
    # the row_number stream both read this materialization, so the two
    # consumers can never see different RangePartitioner samples (the
    # silent-wrong-median hazard if exchange reuse were disabled). The
    # bracket is O(n/accuracy) rows — cheap to materialize by design.
    ranged = execution.cut(
        br.repartitionByRange(n_range_parts, F.col("v"))
        .withColumn("pid", F.spark_partition_id()),
        eager=True,
    )
    sizes = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = sizes.select(
        "pid",
        (F.sum("cnt").over(Window.orderBy("pid")) - F.col("cnt")).alias("off"),
    )
    w_local = Window.partitionBy("pid").orderBy("v")
    sel = (
        ranged.join(F.broadcast(offsets), "pid")
        .withColumn(
            "rn", F.row_number().over(w_local) + F.col("off") + F.lit(c_lo)
        )
        .filter(F.col("rn").isin(k1, k2))
    )
    return sel.agg(F.avg("v").alias("median")).select(
        F.lit(n).cast("long").alias("n_rows"), "median"
    )

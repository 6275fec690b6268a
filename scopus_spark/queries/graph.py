"""SURVEY §2.N (added during build, round 1) — graph operators over the
multi-signal duplicate graph (n1–n3).

The edge set is the union of the two LSH candidate signals the dedup
pipeline produces over `documents`:

- MinHash-LSH candidate pairs (j9: word-3-gram shingles, 12 hashes,
  4 bands x 3 rows), and
- SimHash hamming<=8 pairs (j11: 60-bit fingerprints, 15-bit band LSH).

Clustering this graph is the last stage of real near-dedup: pairs alone
over-remove (A~B, B~C but A!~C must still land in one keep-group), so the
pipeline needs connected components. DuckDB oracles reproduce the exact
same edges (the j9/j11 SQL constants are shared, so the two declarations
can never drift) and derive components with a recursive CTE — the one
place the oracle tier exercises recursive SQL.

Spark-side components come from operators/graph.py: min-label propagation
with pointer jumping, O(log diameter) shuffle rounds — the 100 TB path.
The recursive-CTE transitive closure the oracle uses is O(V*E) and only
viable at oracle scale; that asymmetry is the point (same semantics, scale
-appropriate physical plans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scopus_spark import execution
from scopus_spark.catalog import spread_scan, table
from scopus_spark.operators import dedup, graph
from scopus_spark.queries.pipeline import J9_PAIRS_SQL, J11_PAIRS_SQL, J14_QUALITY_SQL
from scopus_spark.registry import register

# Shared oracle CTE: the dup-graph edge set (a<b orientation, deduped).
# MATERIALIZED so DuckDB computes the two LSH pipelines once even when the
# consuming query references `pairs` several times.
_PAIRS_CTE = f"""
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({J9_PAIRS_SQL}) j9
      UNION
      SELECT doc_a, doc_b FROM ({J11_PAIRS_SQL}) j11
    )
"""


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of j9 + j11 pair signals as an (doc_a, doc_b) edge list.

    The pipeline (MinHash signatures and SimHash fingerprints per doc)
    dominates each n-key's cost. It is built fresh on every call; the two
    pair signals cut their signature passes (operators/dedup.py), so the
    build runs those passes. A consumer that reads the edges in more than
    one job cuts them too; every cut keeps Spark's own lifetime
    (execution.py). A pin measured worse at both places: its cached plan
    keeps the configured 32-way shuffle width (Spark does not let AQE
    coalesce a cached plan by default), so n12 ran 218 tasks against the
    cut's 31."""
    # r10: spread_scan — both pair signals run heavy per-doc map work
    d = spread_scan(spark, sf_dir, "documents")
    lsh = dedup.lsh_candidate_pairs(d).select("doc_a", "doc_b")
    sim = dedup.simhash_near_pairs(d).select("doc_a", "doc_b")
    return lsh.union(sim).distinct()


# --- n1: dup-graph degree histogram ------------------------------------------------
@register(
    "n1",
    oracle=f"""
    WITH {_PAIRS_CTE},
    und AS (
      SELECT doc_a AS node, doc_b AS nbr FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM und GROUP BY node
    )
    SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
    """,
)
def n1_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the dup graph — the skew diagnostic a dedup run
    reads first (a boilerplate-heavy corpus shows up as a fat tail here
    long before the CC join melts). Symmetrize + two hash aggregates."""
    deg = graph.degrees(_dup_edges(spark, sf_dir), "doc_a", "doc_b")
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


# --- n2: dedup clusters via connected components ---------------------------------
@register(
    "n2",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (
      SELECT node, min(src) AS comp_id FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           coalesce(c.comp_id, d.doc_id) AS cluster_id,
           (c.comp_id IS NULL OR c.comp_id = d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def n2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: every document labeled with its connected
    component in the dup graph (cluster id = min doc_id reachable);
    singletons cluster with themselves. `is_canonical` marks the one row
    per cluster a dedup job would keep."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    comp = graph.connected_components(_dup_edges(spark, sf_dir), "doc_a", "doc_b")
    return docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id",
        F.coalesce(F.col("comp_id"), F.col("doc_id")).alias("cluster_id"),
        (F.col("comp_id").isNull() | (F.col("comp_id") == F.col("doc_id"))).alias(
            "is_canonical"
        ),
    )


# --- n3: triangle count ----------------------------------------------------------
@register(
    "n3",
    oracle=f"""
    WITH {_PAIRS_CTE},
    e AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
      FROM pairs
      WHERE doc_a != doc_b
      GROUP BY 1, 2
    )
    SELECT count(*) AS n_triangles
    FROM e ab
    JOIN e bc ON ab.hi = bc.lo
    JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    """,
)
def n3_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the dup graph (transitivity mass — how
    clique-like the near-dup signal is). Low->high edge orientation counts
    each triangle once and bounds join fan-out on power-law graphs."""
    return graph.triangle_count(_dup_edges(spark, sf_dir), "doc_a", "doc_b")


# --- n4: BFS hop distance from the first connected doc ---------------------------
@register(
    "n4",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    seed AS (SELECT min(a) AS s FROM edges),
    walk(node, hops) AS (
      SELECT s, CAST(0 AS BIGINT) FROM seed
      UNION
      SELECT e.b, w.hops + 1
      FROM walk w JOIN edges e ON w.node = e.a
      -- bound = node count: no shortest path is longer, so this cannot
      -- truncate a legal walk (it only terminates cycle re-exploration)
      WHERE w.hops < (SELECT count(*) FROM documents)
    )
    SELECT node, min(hops) AS hops FROM walk GROUP BY node
    """,
)
def n4_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop count from the first connected document to everything
    reachable in the dup graph — the citation-graph reachability walk
    (reference heritage: reference-edge traversal from a seed paper [U]).
    Spark side: iterative frontier expansion, one shuffle-join per hop
    level (operators/graph.py); the oracle's recursive CTE explores
    (node, hops) pairs and min-reduces — same answer, oracle-scale
    algorithm."""
    # cut: the seed probe and the BFS rounds are separate jobs
    edges = execution.cut(_dup_edges(spark, sf_dir))
    seed = edges.agg(F.min(F.least("doc_a", "doc_b"))).collect()[0][0]
    return graph.bfs_hops(edges, seed, "doc_a", "doc_b")


# --- n7: quality-aware canonical selection per dup cluster -------------------------
@register(
    "n7",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (
      SELECT node, min(src) AS comp_id FROM reach GROUP BY node
    ),
    q AS (
      SELECT doc_id, quality_score FROM ({J14_QUALITY_SQL}) jq
    ),
    lab AS (
      SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT l.doc_id, l.cluster_id,
           CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
             AS cluster_size,
           q.quality_score,
           (row_number() OVER (PARTITION BY l.cluster_id
                               ORDER BY q.quality_score DESC, l.doc_id) = 1)
             AS keep
    FROM lab l JOIN q USING (doc_id)
    """,
)
def n7_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION, end to end: every document labeled with its
    dup cluster (n2's connected components) and the one KEEP row per
    cluster chosen by QUALITY (j14's composite score, doc_id tie-break)
    — keep-best-not-keep-first, which is what a real corpus dedup ships.
    Composes two already-verified surfaces; the oracle recomputes both
    (recursive-CTE closure + the shared J14_QUALITY_SQL formula, so the
    quality definition can never drift between keys). Plan: the CC label
    join + ONE per-cluster window (count and row_number share the
    partitioning; quality doubles are bit-identical across engines, so
    ordering by them is deterministic)."""
    clusters = n2_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    from scopus_spark.queries.pipeline import j14_quality_score

    quality = j14_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    j = clusters.join(quality, "doc_id")
    w_size = Window.partitionBy("cluster_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    return j.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w_size).alias("cluster_size"),
        "quality_score",
        (F.row_number().over(w_rank) == 1).alias("keep"),
    )


# --- n8: per-node clustering coefficient -------------------------------------------
@register(
    "n8",
    oracle=f"""
    WITH {_PAIRS_CTE},
    e AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
      FROM pairs WHERE doc_a != doc_b GROUP BY 1, 2
    ),
    tri AS (
      SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
      FROM e ab
      JOIN e bc ON ab.hi = bc.lo
      JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    ),
    tn AS (
      SELECT node, count(*) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    und AS (
      SELECT doc_a AS node, doc_b AS nbr FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT node, count(*) AS degree FROM und GROUP BY node)
    SELECT d.node,
           CAST(d.degree AS BIGINT)         AS degree,
           CAST(coalesce(tn.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE 2.0 * coalesce(tn.t, 0) / (d.degree * (d.degree - 1))
           END                              AS clustering_coeff
    FROM deg d LEFT JOIN tn ON d.node = tn.node
    """,
)
def n8_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient of the dup graph — how clique-like
    each document's near-dup neighborhood is (n3's global transitivity
    made local: cc(v) = 2*T(v) / deg(v)(deg(v)-1), 0 below degree 2).
    High-cc nodes sit in tight template clusters (safe to collapse
    aggressively); low-cc high-degree nodes are hub-like boilerplate
    bridges (collapse carefully). Triangles enumerate once via the
    lo<hi-oriented edge set (n3's join), then each triangle credits its
    three corners through one explode + hash aggregate; the coefficient
    is an exact integer ratio through one shared double division."""
    edges = _dup_edges(spark, sf_dir)
    e = (
        edges.select(
            F.least("doc_a", "doc_b").alias("lo"),
            F.greatest("doc_a", "doc_b").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.hi") == F.col("bc.lo"))
        .join(
            ac,
            (F.col("ac.lo") == F.col("ab.lo")) & (F.col("ac.hi") == F.col("bc.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"), F.col("ab.hi").alias("b"),
            F.col("bc.hi").alias("c"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = graph.degrees(edges, "doc_a", "doc_b")
    t = F.coalesce(F.col("t"), F.lit(0))
    return deg.join(tn, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(2.0 * t / (F.col("degree") * (F.col("degree") - 1)))
        .alias("clustering_coeff"),
    )


# --- n9: size-capped cluster collapse with audit counts -----------------------------
# Collapse policy cap: clusters up to this size collapse to their single
# best doc; larger clusters are hub-suspect (LSH chains / boilerplate
# bridges — the sf0.01 corpus has a 166-doc one) and keep the best
# ceil(size/cap) docs instead of over-deleting through one weak link.
N9_COLLAPSE_CAP = 4


@register(
    "n9",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (
      SELECT node, min(src) AS comp_id FROM reach GROUP BY node
    ),
    q AS (
      SELECT doc_id, quality_score FROM ({J14_QUALITY_SQL})
    ),
    lab AS (
      SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    ranked AS (
      SELECT l.doc_id, l.cluster_id,
             count(*) OVER (PARTITION BY l.cluster_id) AS sz,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality_score DESC, l.doc_id) AS rnk
      FROM lab l JOIN q USING (doc_id)
    ),
    decided AS (
      SELECT cluster_id, sz,
             CASE WHEN sz = 1 THEN 'singleton'
                  WHEN sz <= {N9_COLLAPSE_CAP} THEN 'collapsed'
                  ELSE 'capped' END AS policy,
             (rnk <= CASE WHEN sz <= {N9_COLLAPSE_CAP} THEN 1
                          ELSE CAST(ceil(sz / {N9_COLLAPSE_CAP}.0) AS BIGINT)
                     END) AS kept
      FROM ranked
    )
    SELECT policy,
           CAST(count(DISTINCT cluster_id) AS BIGINT)            AS n_clusters,
           CAST(count(*) AS BIGINT)                              AS n_docs,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT)          AS n_kept,
           CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT)      AS n_dropped
    FROM decided
    GROUP BY policy
    """,
)
def n9_capped_collapse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile of a production dedup pipeline: apply a CLUSTER-SIZE-
    CAPPED collapse policy to the n7 keep decision and emit the audit
    counts a data-governance review signs off on. Policy: singletons pass
    through; clusters of 2..cap collapse to their single best-quality doc;
    clusters ABOVE the cap are hub-suspect (LSH chaining / boilerplate
    bridges make one weak link merge unrelated docs — the corpus's 166-doc
    component is exactly that) and keep the best ceil(size/cap) docs
    rather than over-deleting. Output = per-policy cluster/doc/kept/
    dropped counts, the numbers a dedup run reports before anything is
    actually destroyed.

    Plan shape: reuses n7's CC labels + quality join, adds one per-cluster
    window (size + rank share the partitioning) and one tiny hash
    aggregate — nothing beyond the already-bucketed dup-graph work."""
    clusters = n2_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    from scopus_spark.queries.pipeline import j14_quality_score

    quality = j14_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    j = clusters.join(quality, "doc_id")
    sz = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    rnk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("quality_score").desc(), "doc_id"
        )
    )
    cap = F.lit(N9_COLLAPSE_CAP)
    decided = j.select(
        "cluster_id",
        sz.alias("sz"),
        rnk.alias("rnk"),
    ).select(
        "cluster_id",
        F.when(F.col("sz") == 1, F.lit("singleton"))
        .when(F.col("sz") <= cap, F.lit("collapsed"))
        .otherwise(F.lit("capped"))
        .alias("policy"),
        (
            F.col("rnk")
            <= F.when(F.col("sz") <= cap, F.lit(1)).otherwise(
                F.ceil(F.col("sz") / cap.cast("double")).cast("long")
            )
        ).alias("kept"),
    )
    return decided.groupBy("policy").agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_dropped"),
    )


# --- j29 (registered here to reuse the dup-graph CTEs): corpus-prep funnel ----------
_J29_QUALITY_MIN = 0.38  # ~p25 of the j14 score on this corpus
# SHARED with j22 (import, not copy): the funnel's holdout rule must be the
# same fragment j22 uses, or a future edit desynchronizes the two silently.
from scopus_spark.queries.pipeline import _J22_BUCKET as _J29_BUCKET  # noqa: E402


@register(
    "j29",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT node, min(src) AS comp_id FROM reach GROUP BY node),
    q AS (SELECT doc_id, quality_score FROM ({J14_QUALITY_SQL})),
    ranked AS (
      SELECT d.doc_id,
             row_number() OVER (
               PARTITION BY coalesce(c.comp_id, d.doc_id)
               ORDER BY q.quality_score DESC, d.doc_id) AS rnk,
             q.quality_score
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.node
      JOIN q ON q.doc_id = d.doc_id
    ),
    s1 AS (SELECT doc_id, quality_score FROM ranked WHERE rnk = 1),
    s2 AS (SELECT doc_id FROM s1 WHERE quality_score >= {_J29_QUALITY_MIN}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tri AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 2 + 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS tri
      FROM toks
    ),
    rep_ok AS (
      SELECT doc_id FROM tri
      WHERE NOT (len(tri) > 0 AND
                 1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE) > 0.2)
    ),
    s3 AS (SELECT doc_id FROM s2 WHERE doc_id IN (SELECT doc_id FROM rep_ok)),
    g4 AS (
      SELECT doc_id, {_J29_BUCKET} AS bucket,
             CASE WHEN len(w) >= 4
                  THEN list_transform(
                         list_distinct(list_transform(range(1, len(w) - 4 + 1 + 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                                w[i+3])),
                         s -> md5(s))
                  ELSE [] END AS gh
      FROM toks
    ),
    ev AS (SELECT DISTINCT unnest(gh) AS gh FROM g4 WHERE bucket >= 98),
    dirty AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, unnest(gh) AS gh FROM g4 WHERE bucket < 98) t
      JOIN ev USING (gh)
    ),
    s4 AS (
      SELECT doc_id FROM s3
      WHERE {_J29_BUCKET} < 98
        AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    n AS (
      SELECT (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3,
             (SELECT count(*) FROM s4) AS n4
    )
    SELECT * FROM (
      SELECT 1 AS stage_no, 'dedup' AS stage,
             CAST(n0 AS BIGINT) AS n_in, CAST(n0 - n1 AS BIGINT) AS n_dropped,
             CAST(n1 AS BIGINT) AS n_out FROM n
      UNION ALL
      SELECT 2, 'quality', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT),
             CAST(n2 AS BIGINT) FROM n
      UNION ALL
      SELECT 3, 'repetition', CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT),
             CAST(n3 AS BIGINT) FROM n
      UNION ALL
      SELECT 4, 'decontamination', CAST(n3 AS BIGINT), CAST(n3 - n4 AS BIGINT),
             CAST(n4 AS BIGINT) FROM n
    )
    """,
)
def j29_corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus preparation recipe as one declared,
    hash-audited funnel — the composition a user of this engine actually
    ships: (1) near-dup collapse keeping the best-quality doc per cluster
    (n7), (2) quality floor (j14 score >= 0.38 ~ corpus p25),
    (3) C4/Gopher repetition rule (j21), (4) eval-split holdout + n-gram
    decontamination (j22). Output is the per-stage audit table
    (stage, n_in, n_dropped, n_out) — the funnel report every corpus
    release publishes. Each stage reuses the EXACT shared logic of its
    standalone key (same constants, same SQL fragments), so a green hash
    here certifies the composition, not a re-implementation.

    Plan: all four stages are lazy subplans unioned as 1-row aggregates;
    the dup-graph work dominates exactly as in n7/n9."""
    from scopus_spark.queries.pipeline import (
        j21_repetition_score,
        j22_decontamination,
    )
    from scopus_spark.queries.sampling import _bucket

    d = table(spark, sf_dir, "documents").select("doc_id")
    s1 = n7_canonical_selection(spark, sf_dir).filter(F.col("keep"))
    s2 = s1.filter(F.col("quality_score") >= _J29_QUALITY_MIN)
    rep_ok = j21_repetition_score(spark, sf_dir).filter(~F.col("flagged")).select(
        "doc_id"
    )
    s3 = s2.join(rep_ok, "doc_id")
    dirty = j22_decontamination(spark, sf_dir).select("doc_id")
    s4 = (
        s3.filter(_bucket(F.col("doc_id")) < 98)
        .join(dirty, "doc_id", "left_anti")
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    # each cnt() is a 1-row aggregate — broadcast makes the plan shape
    # explicit (BroadcastNestedLoopJoin, assertable) instead of leaving
    # Spark to infer it.
    # NOTE r10: measured both a persist() of this 1-row frame and slim
    # persists of the s1/s3 chain — neither beat the original shape
    # (the broadcast count branches are already deduped by
    # ReuseExchange across the union branches), so it stays unpinned.
    n = (
        cnt(d, "n0")
        .crossJoin(F.broadcast(cnt(s1, "n1")))
        .crossJoin(F.broadcast(cnt(s2, "n2")))
        .crossJoin(F.broadcast(cnt(s3, "n3")))
        .crossJoin(F.broadcast(cnt(s4, "n4")))
    )
    stages = [
        (1, "dedup", "n0", "n1"),
        (2, "quality", "n1", "n2"),
        (3, "repetition", "n2", "n3"),
        (4, "decontamination", "n3", "n4"),
    ]
    rows = [
        n.select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col(i).alias("n_in"),
            (F.col(i) - F.col(o)).alias("n_dropped"),
            F.col(o).alias("n_out"),
        )
        for no, name, i, o in stages
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- n10: entity resolution end-to-end over the part-name registry -----------------
from scopus_spark.queries.functions import H22_PAIRS_SQL, blocked_fuzzy_pairs


@register(
    "n10",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({H22_PAIRS_SQL}),
    edges AS MATERIALIZED (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT node, min(src) AS comp_id FROM reach GROUP BY node),
    reg AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    lab AS (
      SELECT reg.p_name, reg.n_parts,
             coalesce(c.comp_id, reg.p_name) AS cluster_id
      FROM reg LEFT JOIN comp c ON reg.p_name = c.node
    )
    SELECT p_name, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           CAST(sum(n_parts) OVER (PARTITION BY cluster_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS BIGINT)
             AS cluster_parts,
           n_parts,
           first_value(p_name) OVER (PARTITION BY cluster_id
                                     ORDER BY n_parts DESC, p_name)
             AS canonical_name,
           (row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_parts DESC, p_name) = 1)
             AS is_canonical
    FROM lab
    """,
)
def n10_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END over the part-name registry: blocked
    fuzzy candidates (h22's prefix/suffix blocking + Levenshtein ≤ 2) →
    transitive closure (the shared CC operator — A~B, B~C must land in one
    entity even when A!~C) → one canonical name per cluster, chosen by
    FREQUENCY (the variant the most part rows actually use; registry-order
    tie-break), plus the audit counts a normalization run reports before
    rewriting anything (variants per cluster, part rows affected). This is
    the venue/affiliation-string disambiguation pipeline of bibliographic
    ETL in miniature — the reference corpus's author/venue normalization
    problem — and the h21→h22→n10 chain mirrors n2→n7 on the document
    side (candidates → closure → quality-chosen canonical).

    Scale shape: the registry aggregate is the only corpus-scale work (one
    partial-agg shuffle on p_name); everything after runs on registry
    cardinality — CC's O(log diameter) rounds shuffle the bounded edge
    list, and ONE window partitioned by cluster computes size, row mass,
    canonical, and the keep flag together. The oracle recomputes the
    closure with a recursive CTE over the SAME shared pair SQL, so the
    edge definition cannot drift between engines."""
    parts = table(spark, sf_dir, "part")
    edges = blocked_fuzzy_pairs(parts)
    comp = graph.connected_components(edges, "name_a", "name_b")
    reg = parts.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    lab = reg.join(comp, reg.p_name == comp.node, "left").select(
        "p_name",
        "n_parts",
        F.coalesce(F.col("comp_id"), F.col("p_name")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("n_parts").desc(), "p_name"
    )
    return lab.select(
        "p_name",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        F.sum("n_parts").over(w).cast("long").alias("cluster_parts"),
        "n_parts",
        F.first("p_name").over(w_rank).alias("canonical_name"),
        (F.row_number().over(w_rank) == 1).alias("is_canonical"),
    )


# --- n11: GraphFrames-style motif finding ---------------------------------------------
_N11_EDGES_SQL = """
    WITH w AS (
      SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS n
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey  = o.o_orderkey
      JOIN customer c ON o.o_custkey   = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey   = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_nationkey <> sn.n_nationkey
      GROUP BY cn.n_name, sn.n_name
    ),
    tot AS (SELECT sum(n) AS total FROM w)
    SELECT src, dst FROM w, tot WHERE 480 * n >= total
"""


@register(
    "n11",
    oracle=f"""
    WITH e AS ({_N11_EDGES_SQL})
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    LEFT JOIN e e4 ON e4.src = e2.dst AND e4.dst = e1.src
    WHERE e4.src IS NULL
    """,
)
def n11_motif_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif finding (operators/motif.py): the declared
    pattern `(a)-[]->(b); (b)-[]->(c); (a)-[]->(c); !(c)-[]->(a)` — OPEN
    feed-forward triangles — over the nation trade graph (edge cust-nation
    → supp-nation wherever at least 1.25× the average pair volume flows
    that way; the SCALE-FREE integer rule `480·n ≥ Σn` keeps the graph
    similarly sparse at every sf — a fixed absolute cutoff saturates to
    the complete graph as volume grows and the motif count collapses to
    zero — and stays float-free on both engines. ~25 vertices, so motif
    cardinality stays bounded while the edge build scans the fact table
    once; the Σn denominator rides in as the adjudicated broadcast 1-row
    aggregate crossJoin). The motif API compiles the pattern into exactly the
    Catalyst join chain the oracle writes by hand: one equi-join per
    positive term, a LEFT ANTI join for the negation — so the green hash
    certifies the compiler, not just this pattern. Scale: the edge-build
    agg dominates (one lineitem shuffle); the motif joins run over the
    realized edge list, broadcastable at any real-world graph density
    where motif search is sane; dense-vertex skew falls to AQE."""
    from scopus_spark.operators import motif

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("c_nk"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("s_nk"))
        .filter(F.col("c_nk") != F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = edges.agg(F.sum("n").alias("total"))
    edges = (
        edges.crossJoin(F.broadcast(total))
        .filter(480 * F.col("n") >= F.col("total"))
        .select("src", "dst")
    )
    m = motif.find(edges, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c); !(c)-[]->(a)")
    return m.select(
        F.col("a.id").alias("a"), F.col("b.id").alias("b"), F.col("c.id").alias("c")
    )


# --- n12: k-core decomposition of the dup graph (ROWS + brute-force property) -------
@register("n12")  # no oracle: iterative peeling is not expressible in one SQL
def n12_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT coreness per dup-graph node (operators/graph.coreness) — the
    governance signal that separates TEMPLATE FAMILIES from chain
    artifacts: a node with coreness >= 2 sits in a mutually-similar
    clique-ish blob (boilerplate/template spam — safe to collapse hard),
    while coreness 1 marks chains of borderline pairwise matches where
    transitive collapse (n2/n9) is the risky move. Degree alone cannot
    make that call (a chain hub and a clique member can have equal
    degree); the k-core number is the standard graph-density fix.

    No DuckDB oracle: k-core peeling is inherently iterative with a
    data-dependent round count (aggregate-in-recursion is outside SQL's
    recursive CTE fragment — same adjudication as i4/i5/m3). Instead
    tests/test_coreness.py proves the operator EQUAL to single-node
    brute-force peeling on constructed graphs and on this exact dup graph
    at sf0.01 — node-for-node, value-for-value, which is the HASH check
    in all but transport."""
    from scopus_spark.operators.graph import coreness, degrees

    # cut: coreness peels in its own jobs, degrees reads them again
    edges = execution.cut(_dup_edges(spark, sf_dir)).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    core = coreness(edges)
    deg = degrees(edges)
    return core.join(deg, "node").select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("coreness").cast("long").alias("coreness"),
        F.col("degree").cast("long").alias("degree"),
    )


# --- n13: h-index per customer (the bibliometric staple) --------------------------
@register(
    "n13",
    oracle="""
    WITH cites AS (
      SELECT l_orderkey, count(*) AS cites FROM lineitem GROUP BY l_orderkey
    ),
    papers AS (
      SELECT o.o_custkey, c.cites,
             row_number() OVER (
               PARTITION BY o.o_custkey
               ORDER BY c.cites DESC, o.o_orderkey
             ) AS rn
      FROM orders o JOIN cites c ON o.o_orderkey = c.l_orderkey
    )
    SELECT o_custkey AS custkey,
           max(least(rn, cites)) AS h_index,
           count(*) AS n_papers
    FROM papers GROUP BY o_custkey
    """,
)
def n13_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h-index per customer — THE bibliometric impact measure (Hirsch
    2005): h = the largest h such that the entity has >= h papers with
    >= h citations each. Rendered on the lake: papers = a customer's
    orders, citations = lineitems per order.

    The classic formulation sorts each entity's papers by citations
    descending and takes max(min(rank, citations)) — h is invariant to
    tie-break order within equal citation counts (swapping equal-cite
    papers never changes min(rank, cites) maxima), but the window still
    orders by (cites DESC, orderkey) so the intermediate is fully
    deterministic.

    Scale: one map-side-combinable agg on orderkey, one orderkey equi-
    join (co-partitioned with the agg's shuffle), one per-entity window
    (shuffle on custkey; an entity's paper list is the partition — fine
    unless one author has millions of papers, in which case cap the
    window with a cites-descending top-N pushdown since h <= n anyway).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cites = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cites"))
    papers = o.join(cites, o.o_orderkey == cites.l_orderkey).select(
        "o_custkey", "o_orderkey", "cites"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("cites"), F.asc("o_orderkey")
    )
    ranked = papers.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.least(F.col("rn").cast("long"), F.col("cites"))).alias(
            "h_index"
        ),
        F.count(F.lit(1)).alias("n_papers"),
    )


# --- n14: co-citation pairs with Jaccard strength ---------------------------------
@register(
    "n14",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    sized AS (
      SELECT ok FROM items GROUP BY ok HAVING count(*) <= 25
    ),
    base AS (
      SELECT i.ok, i.pk FROM items i JOIN sized s ON i.ok = s.ok
    ),
    sup AS (
      SELECT pk, count(*) AS sup FROM base GROUP BY pk
    ),
    fi AS (
      SELECT b.ok, b.pk, s.sup FROM base b
      JOIN sup s ON b.pk = s.pk AND s.sup >= 10
    ),
    co AS (
      SELECT a.pk AS part_a, b.pk AS part_b,
             count(*) AS cocites,
             max(a.sup) AS sup_a, max(b.sup) AS sup_b
      FROM fi a JOIN fi b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, cocites,
           CAST(cocites AS DOUBLE) / (sup_a + sup_b - cocites) AS jaccard
    FROM co
    """,
)
def n14_cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation pairs (Small 1973) — parts ordered together stand in
    for papers cited together: for every part pair appearing in >= 2
    shared baskets, the co-count plus Jaccard strength
    cocites / (sup_a + sup_b - cocites). Bibliographic-coupling twin of
    the dup-graph keys: this is how citation-analytics builds its
    similarity graph from raw co-occurrence.

    The pair self-join is the classic explosion risk; both standard
    guards are encoded (in the oracle too, so they're contract, not
    implementation detail):
    - mega-basket exclusion (baskets > 25 items dropped BEFORE pairing
      — review articles citing thousands contribute O(k^2) noise pairs;
      TPC-H baskets are <= 7 so the cap is semantics-neutral here while
      pinning the scale guard),
    - support pruning (parts in < 10 baskets can never reach a strong
      pair; dropping them first shrinks the join input, the a-priori
      argument).
    After the guards the join is a basket-keyed equi-join whose per-key
    fanout is <= C(25,2); the pair agg is map-side combinable on
    (part_a, part_b). AQE splits residual hot baskets.
    """
    li = table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    sized = (
        items.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") <= 25)
        .select("ok")
    )
    base = items.join(sized, "ok")
    sup = base.groupBy("pk").agg(F.count(F.lit(1)).alias("sup"))
    fi = base.join(sup.filter(F.col("sup") >= 10), "pk").select(
        "ok", "pk", "sup"
    )
    a = fi.select(
        F.col("ok"),
        F.col("pk").alias("part_a"),
        F.col("sup").alias("sup_a_raw"),
    )
    b = fi.select(
        F.col("ok").alias("ok_b"),
        F.col("pk").alias("part_b"),
        F.col("sup").alias("sup_b_raw"),
    )
    co = (
        a.join(b, (a.ok == b.ok_b) & (a.part_a < b.part_b))
        .groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("cocites"),
            F.max("sup_a_raw").alias("sup_a"),
            F.max("sup_b_raw").alias("sup_b"),
        )
        .filter(F.col("cocites") >= 2)
    )
    return co.select(
        "part_a",
        "part_b",
        "cocites",
        (
            F.col("cocites").cast("double")
            / (F.col("sup_a") + F.col("sup_b") - F.col("cocites"))
        ).alias("jaccard"),
    )


# --- n15: label-propagation communities ---------------------------------------------
def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous-LPA SQL: round t's labels derive from round
    t-1's via (count DESC, label ASC) argmax — the exact tie order the
    Spark operator uses, so the two declarations cannot diverge."""
    ctes = [
        """adj AS MATERIALIZED (
          SELECT doc_a AS v, doc_b AS u FROM pairs WHERE doc_a != doc_b
          UNION
          SELECT doc_b, doc_a FROM pairs WHERE doc_a != doc_b
        )""",
        "lab0 AS (SELECT DISTINCT v, v AS label FROM adj)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""cand{t} AS (
              SELECT a.v AS v, l.label AS label, count(*) AS c
              FROM adj a JOIN lab{t - 1} l ON a.u = l.v
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""lab{t} AS (
              SELECT v, label FROM (
                SELECT v, label,
                       row_number() OVER (PARTITION BY v
                                          ORDER BY c DESC, label) AS rn
                FROM cand{t}
              ) WHERE rn = 1
            )"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {_PAIRS_CTE},
    {body}
    SELECT d.doc_id, coalesce(l.label, d.doc_id) AS community
    FROM documents d LEFT JOIN lab{rounds} l ON d.doc_id = l.v
    """


@register("n15", oracle=_lpa_oracle(4))
def n15_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the dup graph via synchronous label
    propagation (operators/graph.label_propagation, Raghavan et al.
    2007) — the sub-component structure n2's connected components cannot
    see: CC merges everything reachable, LPA splits a chained component
    into its dense cores, which is what a dedup reviewer actually wants
    when LSH chains A~B~C across genuinely different documents. 4
    synchronous rounds, min-label tie-break — deterministic, so the
    DuckDB oracle replays the identical rounds unrolled as CTEs and the
    gate is a full HASH match. Isolated documents community with
    themselves (left join, n2's convention)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    edges = _dup_edges(spark, sf_dir).filter(F.col("doc_a") != F.col("doc_b"))
    comm = graph.label_propagation(edges, "doc_a", "doc_b", rounds=4)
    return docs.join(comm, docs.doc_id == comm.node, "left").select(
        "doc_id",
        F.coalesce(F.col("community"), F.col("doc_id")).alias("community"),
    )

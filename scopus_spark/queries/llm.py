"""SURVEY §2.J — LLM-data-pipeline operators (j1–j8).

The north-star additions (BASELINE.json:6): dedup, similarity search,
text/corpus analysis, embedding stats, multimodal binary columns — each as
a declared query with a DuckDB oracle, each designed scale-first:

- Exact dedup (j1) & near-dup pairs (j2): one shuffle on the dedup key;
  j2's candidates come from EXACT prefix filtering
  (operators/dedup.prefix_filter_pairs — AllPairs/PPJoin) with the exact
  Jaccard as the verification contract; MinHash-LSH banding (j9) is the
  recall-tunable probabilistic tier.
- Similarity search: j3 brute-force top-k for a single query vector (one
  scan + TakeOrdered — the right plan for that shape); j4 all-pairs 1-NN
  via IVF bound-pruned exact search (operators/similarity.exact_1nn, no
  cartesian); approximate tier in operators/similarity.ann_topk.
- All FP outputs follow _fp.py (similarities rounded at 6dp per FIXTURES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scopus_spark.catalog import spread_scan, table
from scopus_spark.operators.similarity import as_double, cosine, dot, norm
from scopus_spark.queries import _fp
from scopus_spark.registry import register


# --- j1: exact dedup by content hash -----------------------------------------
@register(
    "j1",
    oracle="""
    SELECT sha256(text)  AS content_hash,
           min(doc_id)   AS keep_doc_id,
           count(*)      AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
)
def j1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text), keep the min-doc_id copy.

    The 100 TB shape: hashing shrinks the shuffle key from full text to 32
    bytes; one shuffle, map-side partial agg. (8 real duplicate texts exist
    at sf0.1 — FIXTURES.md.)
    """
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- j2: near-duplicate pairs — exact Jaccard >= 0.8 on word 3-gram shingles ---
_J2_SPARK_THRESHOLD = 0.8


@register(
    "j2",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM toks
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b,
           round(p.n_inter / (sa.n_sh + sb.n_sh - p.n_inter), 6) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.n_inter / (sa.n_sh + sb.n_sh - p.n_inter) >= 0.8
    """,
)
def j2_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: exact Jaccard >= 0.8 over word-3-gram shingle sets.

    Round 3 plan: candidates come from EXACT prefix filtering (AllPairs /
    PPJoin family — Bayardo et al., WWW'07), not the raw shingle self-join:
    under a global rarity order, two sets with Jaccard >= t must share an
    element inside their first ``|X| - ceil(t*|X|) + 1`` sorted elements, so
    joining only on those prefixes has ZERO false negatives while shrinking
    the join to the rarest ~20% of shingles. Hot boilerplate shingles land
    in prefixes only for tiny documents, which defuses the skew bomb the
    round-1/2 plan carried. Candidates are re-verified with the exact
    Jaccard, so declared semantics are unchanged. The probabilistic
    MinHash-LSH tier (operators/dedup.py) remains the recall-tunable
    variant (j9); it is not used here because banding with 4x3 bands has
    ~6% false negatives at t=0.8 and j2's contract is exact.
    """
    from scopus_spark.operators.dedup import prefix_filter_pairs

    # r10: spread_scan — shingle sort/prefix map work per doc (guide §2.5)
    d = spread_scan(spark, sf_dir, "documents")
    return prefix_filter_pairs(d, threshold=_J2_SPARK_THRESHOLD)


# --- j3: exact top-10 cosine neighbors of vec_id=0 -----------------------------
@register(
    "j3",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def j3_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 (the correctness anchor for ANN).

    Ranking happens on the ROUNDED similarity (6dp) + vec_id tie-break so
    both engines order identically even when their fused dot products differ
    in the last ulp. Scale path: operators/similarity.py prunes candidates
    by LSH bucket / IVF cell, then re-ranks with this exact cosine.
    """
    e = table(spark, sf_dir, "embeddings")
    emb = as_double()
    # The query vector and its norm come from a 1-row frame broadcast into
    # the scan (the repo's bounded-crossJoin idiom): the lookup stays in
    # the plan, so building the frame runs no job, and the norm is taken
    # once, not per row. Same expression order as similarity.cosine.
    q = e.filter(F.col("vec_id") == 0).select(
        emb.alias("qe"), norm(emb).alias("qn")
    )
    cos = F.round(dot(emb, F.col("qe")) / (norm(emb) * F.col("qn")), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- j4: all-pairs 1-NN + label agreement ----------------------------------------
@register(
    "j4",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id, a.label AS label_a, b.vec_id AS nn_id, b.label AS label_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM pairs
    )
    SELECT vec_id, nn_id, cos_sim,
           (label_a = label_b) AS label_match
    FROM ranked WHERE rn = 1
    """,
)
def j4_allpairs_1nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN for every vector — exact, WITHOUT the O(n^2) cartesian.

    Round 3: routed through operators/similarity.exact_1nn — IVF cell
    assignment (map-side, broadcast centroid row) + own-cell equi-join +
    bound-pruned probes of other cells. The pruning bound (centroid
    similarity + cell chord radius, minus the 6dp rounding epsilon) makes
    the result provably identical to the brute-force anchor the oracle
    computes, while the physical plan contains only cell_id equi-joins and
    1-row broadcasts — no CartesianProduct at any scale.

    Round 4: n_cells is no longer a constant 16 — exact_1nn derives it as
    ~sqrt(n) from a cheap count (candidate volume n^1.5, not n^2/16) and
    runs two deterministic Lloyd refinement passes over the seed
    centroids for cell balance. Exactness is centroid-independent.
    """
    from scopus_spark.catalog import row_count_estimate
    from scopus_spark.operators.similarity import exact_1nn

    # r10: spread_scan + footer row count — spreads the per-row
    # assignment HOFs and skips the plan-build count job.
    e = spread_scan(spark, sf_dir, "embeddings")
    return exact_1nn(e, n_rows=row_count_estimate(sf_dir, "embeddings"))


# --- j5: TF-IDF, top-5 terms per doc ------------------------------------------------
@register(
    "j5",
    oracle="""
    WITH tf AS (
      SELECT doc_id, word AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def j5_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF purely relationally: tokenize -> tf -> df join -> score ->
    per-doc top-5. The document-frequency table has unbounded cardinality
    (a web-scale vocabulary is mostly hapax legomena and does NOT fit
    executor memory), so the tf-df join is an UNHINTED equi-join on term:
    Catalyst/AQE picks broadcast when stats say the vocab is small and a
    shuffled hash join otherwise; ranking on the rounded score keeps
    cross-engine ordering identical."""
    d = table(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate, not a driver-side count():
    # keeps the whole query one lazy plan (no eager job at declaration time)
    n_row = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tfidf", "rn")
    )


# --- j6: corpus text analysis ----------------------------------------------------------
@register(
    "j6",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT lang,
           count(DISTINCT doc_id)                           AS n_docs,
           count(*)                                         AS n_tokens,
           count(DISTINCT word)                             AS vocab,
           round(count(*) / count(DISTINCT doc_id), 4)      AS avg_tokens_per_doc,
           round(avg(length(word)), 4)                      AS avg_word_len
    FROM words
    GROUP BY lang
    """,
)
def j6_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    return words.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("word").alias("vocab"),
        F.round(F.count(F.lit(1)) / F.countDistinct("doc_id"), 4).alias(
            "avg_tokens_per_doc"
        ),
        F.round(F.avg(F.length("word")), 4).alias("avg_word_len"),
    )


# --- j7: embedding column statistics ------------------------------------------------------
@register(
    "j7",
    oracle="""
    WITH norms AS (
      SELECT label,
             sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                x -> x * x), 'sum')) AS l2,
             embedding[1] AS c0, embedding[2] AS c1
      FROM embeddings
    )
    SELECT label,
           count(*)             AS n_vecs,
           round(avg(l2), 4)    AS avg_norm,
           round(avg(CAST(c0 AS DOUBLE)), 6) AS centroid_c0,
           round(avg(CAST(c1 AS DOUBLE)), 6) AS centroid_c1
    FROM norms
    GROUP BY label
    """,
)
def j7_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    emb = as_double()
    l2 = norm(emb)
    return (
        e.select(
            "label",
            l2.alias("l2"),
            F.element_at(F.col("embedding"), 1).cast("double").alias("c0"),
            F.element_at(F.col("embedding"), 2).cast("double").alias("c1"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("l2"), 4).alias("avg_norm"),
            F.round(F.avg("c0"), 6).alias("centroid_c0"),
            F.round(F.avg("c1"), 6).alias("centroid_c1"),
        )
    )


# --- j8: multimodal binary column round-trip -------------------------------------------------
@register(
    "j8",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_len,
           sha256(text)                            AS payload_sha,
           lang                                    AS meta_lang
    FROM documents
    """,
)
def j8_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload handling: text bytes stand in for image/audio
    blobs (decode stubs live in operators/multimodal.py — the container has
    no codec libs). Schema/partitioning/hash round-trip is the real,
    tested part. Oracle note: DuckDB 1.0's sha256 only accepts VARCHAR, so
    the oracle hashes the text directly — identical UTF-8 bytes either way."""
    d = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.sha2(payload, 256).alias("payload_sha"),
        F.col("lang").alias("meta_lang"),
    )


# --- j41: int8 scalar-quantized ANN candidates + exact re-rank ------------------------
@register(
    "j41",
    oracle="""
    WITH s AS (
      SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> abs(x)))) AS mx
      FROM embeddings
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    quant AS (
      SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb,
             list_transform(CAST(e.embedding AS DOUBLE[]),
                            x -> CAST(round(x * 127 / s.mx, 0) AS BIGINT)) AS qv
      FROM embeddings e, s
    ),
    qq AS (
      SELECT list_transform(q.qe,
                            x -> CAST(round(x * 127 / s.mx, 0) AS BIGINT)) AS qv
      FROM q, s
    ),
    cand AS (
      SELECT quant.vec_id, quant.label, quant.emb,
             list_sum(list_transform(range(1, len(quant.qv) + 1),
                                     i -> quant.qv[i] * qq.qv[i])) AS qdot
      FROM quant, qq
      WHERE quant.vec_id <> 0
      ORDER BY qdot DESC, quant.vec_id ASC
      LIMIT 20
    )
    SELECT c.vec_id, c.label, CAST(c.qdot AS BIGINT) AS qdot,
           round(list_cosine_similarity(c.emb, q.qe), 6) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 10
    """,
)
def j41_quantized_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization for ANN — the memory/bandwidth tier every
    production vector store runs before exact math: embeddings are
    symmetric-quantized to int8 with ONE corpus-wide scale (127/max|x|),
    candidates are ranked by the INTEGER quantized dot product (4x less
    memory traffic, SIMD int8 lanes on real hardware), and only the top-20
    candidates pay the exact double-precision cosine for the final top-10.
    Everything is HASH-exact cross-engine because the quantized values are
    integers: round() ties break away-from-zero on both engines (SURVEY
    C3), and integer products/sums have no ulp drift — so the oracle
    reproduces the candidate set bit-for-bit, not approximately.

    Scale: the scale factor and the query vector are one 1-row agg
    broadcast into the scan (the repo's bounded-crossJoin idiom);
    quantization + integer dot are map-side higher-order fns (no UDF, no
    shuffle); top-20 is a
    TakeOrdered (per-partition partial top-k, no global sort); the exact
    re-rank touches 20 rows. At 100 TB the int8 corpus is what lives in
    executor memory — the double corpus is read only by the re-rank's
    20-row fetch. Complements j3 (exact anchor), j17 (IVF recall tier),
    j31 (batched k-NN): this is the compressed-candidates tier."""
    e = table(spark, sf_dir, "embeddings")
    scale = e.agg(
        F.max(
            F.array_max(F.transform(as_double(), lambda x: F.abs(x)))
        ).alias("mx"),
        F.max(F.when(F.col("vec_id") == 0, as_double())).alias("qe"),
    )

    def _quant(arr):
        return F.transform(
            arr, lambda x: F.round(x * F.lit(127.0) / F.col("mx"), 0).cast("long")
        )

    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(scale))
        .select(
            "vec_id",
            "label",
            as_double().alias("emb"),
            "qe",
            F.aggregate(
                F.zip_with(
                    _quant(as_double()), _quant(F.col("qe")), lambda a, b: a * b
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
        .orderBy(F.col("qdot").desc(), F.col("vec_id").asc())
        .limit(20)
    )
    return (
        cand.select(
            "vec_id",
            "label",
            "qdot",
            F.round(cosine(F.col("emb"), F.col("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )

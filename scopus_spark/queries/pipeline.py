"""SURVEY §2.L (added during build, round 1) — training-data pipeline
operators beyond the reference surface: MinHash-LSH & SimHash dedup,
embedding near-dup, language-ID, quality scoring, token counting, document
fingerprinting, multimodal feature extraction.

Every hash in these operators derives from md5 (never murmur/xxhash) so
the DuckDB oracles reproduce signatures bit-for-bit — LSH candidate sets
are HASH-checked, not just spot-checked. Scale notes live on the operator
implementations in scopus_spark/operators/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scopus_spark import execution
from scopus_spark.catalog import spread_scan, table
from scopus_spark.operators import dedup, multimodal, similarity
from scopus_spark.operators.text import LANG_MARKERS, char_shingles, lang_score, tokens
from scopus_spark.registry import register
from scopus_spark.session import stage_dir


# --- j9: MinHash-LSH candidate pairs ------------------------------------------
# Exposed as a constant so the graph queries (queries/graph.py) can reuse the
# exact same candidate-pair SQL as an edge-set CTE.
J9_PAIRS_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 12),
               s -> list_min(list_transform(shingles,
                      g -> md5(CAST(s AS VARCHAR) || ':' || g)))) AS sig
      FROM sh
    ),
    bands AS (
      SELECT doc_id,
             unnest(range(0, 4)) AS band_no,
             unnest(list_transform(range(0, 4),
               b -> md5(array_to_string(list_slice(sig, b*3 + 1, b*3 + 3), '|'))))
               AS band_hash
      FROM sig
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@register("j9", oracle=J9_PAIRS_SQL)
def j9_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12 hashes) + LSH(4 bands x 3 rows) candidate pairs.

    Signatures are per-doc md5 minima over the exploded shingles, banded
    map-side (operators/dedup.banded_signatures). Candidates feed the
    exact Jaccard verifier (j2) in the production dedup pipeline.
    """
    # r10: spread_scan — the 12-md5-per-shingle signature map work
    # otherwise serializes onto the one-split bench scan (guide §2.5)
    return dedup.lsh_candidate_pairs(spread_scan(spark, sf_dir, "documents"))


# --- j10: SimHash fingerprints ---------------------------------------------------
_SIMHASH_ORACLE_CORE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h & CAST(pow(2.0, i) AS BIGINT)) != 0
                      THEN 1 ELSE -1 END) AS bal
      FROM th, (SELECT unnest(range(0, 60)) AS i) g
      GROUP BY doc_id, i
    ),
    fps AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bal > 0 THEN CAST(pow(2.0, i) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS fp
      FROM bits GROUP BY doc_id
    )
"""


@register(
    "j10",
    oracle=_SIMHASH_ORACLE_CORE + "SELECT doc_id, fp AS simhash FROM fps",
)
def j10_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (operators/dedup.simhash_df).

    Bit i is set iff more of the doc's tokens have bit i of hash60 set
    than not: one token explode and one groupBy(doc) with 60
    map-side-combinable bit-balance sums."""
    d = table(spark, sf_dir, "documents")
    return dedup.simhash_df(d).select(
        "doc_id", F.col("fp").alias("simhash")
    )


# --- j11: SimHash hamming-near pairs ------------------------------------------------
# Reused by queries/graph.py as the second edge signal of the dup graph.
J11_PAIRS_SQL = _SIMHASH_ORACLE_CORE + """,
    bands AS (
      SELECT doc_id, fp,
             unnest(range(0, 4)) AS band_no,
             unnest(list_transform(range(0, 4),
               b -> fp & CAST(pow(2.0, (b+1)*15) - pow(2.0, b*15) AS BIGINT)))
               AS band_val
      FROM fps
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 8
    """


@register("j11", oracle=J11_PAIRS_SQL)
def j11_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=8 SimHash pairs via 15-bit band LSH + exact bit_count
    verification (operators/dedup.py)."""
    # spread_scan: the 60 bit-balance sums per token row are the heavy
    # map work, and they would otherwise run on the one-split scan
    return dedup.simhash_near_pairs(spread_scan(spark, sf_dir, "documents"))


# --- j12: embedding-cosine near-duplicate pairs ----------------------------------------
@register(
    "j12",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label_a, b.label AS label_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
    """,
)
def j12_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45, calibrated: the
    synthetic corpus's max pair cosine is ~0.51). At 100 TB the pair space
    is pruned by IVF cells (operators/similarity.py) before this exact
    filter."""
    e = table(spark, sf_dir, "embeddings")
    # per-vector norm precomputed once (see j4) — halves per-pair array work
    emb = similarity.as_double()
    en = e.select(
        "vec_id", "label", emb.alias("emb"), similarity.norm(emb).alias("nrm")
    )
    a, b = en.alias("a"), en.alias("b")
    dot = similarity.dot(F.col("a.emb"), F.col("b.emb"))
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    # r10 (guide §2.5): the pair join's left side inherits the one-split
    # corpus scan, so the whole n^2/2 scoring stream ran on 1-2 tasks
    # under AQE byte-coalescing; pin scale-adaptive parallelism
    # (r11: bounded below by the configured shuffle width too).
    par = execution.width(spark)
    return (
        a.repartition(par)
        .join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.45)
    )


# --- j13: language identification (n-gram/marker heuristic) ------------------------------
def _lang_ladder_sql() -> str:
    scores = {
        lang: (
            "len(list_filter(string_split(text,' '), t -> list_contains(["
            + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
            + "], t))) / len(string_split(text,' '))"
        )
        for lang in sorted(LANG_MARKERS)
    }
    sel = ",\n           ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    langs = sorted(LANG_MARKERS)
    ladder = "CASE "
    for lang in langs:
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        ladder += f"WHEN {conds} THEN '{lang}' "
    ladder += "END"
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
           {sel}
      FROM documents
    )
    SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
           {ladder} AS pred_lang,
           ({ladder} = lang) AS agrees_with_metadata
    FROM scored
    """


@register("j13", oracle=_lang_ladder_sql())
def j13_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-word hit ratio per language, argmax
    with an alphabetical-first tie-break (identical CASE ladder both
    engines). The contract is the argmax semantics — the corpus is
    synthetic bag-of-words, so linguistic accuracy is not asserted."""
    d = table(spark, sf_dir, "documents")
    langs = sorted(LANG_MARKERS)
    scored = d.select(
        "doc_id",
        "lang",
        *[lang_score("text", lang).alias(f"s_{lang}") for lang in langs],
    )
    pred = None
    for lang in langs:
        cond = None
        for o in langs:
            if o == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return scored.select(
        "doc_id",
        *[f"s_{lang}" for lang in langs],
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("agrees_with_metadata"),
    )


# --- j14: quality scoring -----------------------------------------------------------------
# Named so the dup-graph canonical-selection oracle (queries/graph.py n7)
# reuses the EXACT same quality formula — the two can never drift.
J14_QUALITY_SQL = """
    WITH base AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT)                       AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT)       AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS BIGINT)     AS n_letter_chars,
             len(list_filter(string_split(text,' '),
                 t -> list_contains(['the','and','of','to','in','is','row','table'], t)))
               / len(string_split(text,' '))                    AS stopword_ratio,
             length(regexp_replace(text, '[^0-9]', '', 'g'))
               / length(text)                                   AS digit_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           n_letter_chars / n_tokens AS avg_token_len,
           stopword_ratio, digit_ratio,
           0.4 * stopword_ratio
             + 0.4 * least(n_tokens / 100.0, 1.0)
             + 0.2 * (1.0 - digit_ratio) AS quality_score
    FROM base
    """


@register("j14", oracle=J14_QUALITY_SQL)
def j14_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc quality features (length / stopword / digit ratios) + a weighted
    composite — the filter stage of a training-data pipeline. All exact
    integer ratios and IEEE arithmetic: no rounding needed (_fp.py)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(toks).cast("long")
    stop = lang_score("text", "en")
    digit = F.length(F.regexp_replace("text", "[^0-9]", "")) / F.length("text")
    base = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long").alias(
            "n_letter_chars"
        ),
        stop.alias("stopword_ratio"),
        digit.alias("digit_ratio"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        (F.col("n_letter_chars") / F.col("n_tokens")).alias("avg_token_len"),
        "stopword_ratio",
        "digit_ratio",
        (
            0.4 * F.col("stopword_ratio")
            + 0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.2 * (1.0 - F.col("digit_ratio"))
        ).alias("quality_score"),
    )


# --- j15: token counting (whitespace + BPE-ish regex) ----------------------------------------
@register(
    "j15",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT)                          AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT)                           AS approx_bpe_tokens
    FROM documents
    """,
)
def j15_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces, and the
    chars/4 budget heuristic — the cost-estimation stage of a pipeline."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
        ).alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).alias("approx_bpe_tokens"),
    )


# --- j16: document fingerprint (min-hash of char 5-grams) --------------------------------------
@register(
    "j16",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                                   i -> md5(substr(text, CAST(i AS INT), 5)))) AS fingerprint
    FROM documents
    """,
)
def j16_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite content fingerprint: minimum md5 over character
    5-gram shingles — one stable 32-hex-char id per document, map-side."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_min(
            F.transform(char_shingles("text", 5), lambda s: F.md5(s))
        ).alias("fingerprint"),
    )


# --- j17: IVF-pruned approximate nearest neighbors (ROWS + recall unit test) --------------------
@register("j17")
def j17_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN top-10 for vec_id=0 probing 4 of 16 cells — the 100 TB
    similarity-search path (operators/similarity.py). Approximate by
    design -> rows-only check here; tests/test_operators.py asserts
    recall vs the exact j3 results and exactness at full probe."""
    return similarity.ann_topk(
        table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10, n_cells=16, n_probe=4
    )


# --- j18: multimodal feature extraction over binary payloads ------------------------------------
@register(
    "j18",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           ascii(substr(text, 1, 1))                  AS first_byte,
           ascii(substr(text, length(text), 1))       AS last_byte,
           sha256(text)                               AS payload_sha
    FROM documents
    """,
)
def j18_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over opaque binary payloads via
    mapInPandas (operators/multimodal.py). The oracle recomputes the
    deterministic features from the source text (corpus is ASCII, so byte
    values == ascii codes)."""
    media = multimodal.attach_payload(table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


# --- j19: PII scrubbing ------------------------------------------------------------
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4}"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@register(
    "j19",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com call +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IP_RE}', '<IP>', 'g') AS clean_text,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(raw, '{_IP_RE}'))    AS n_ips
    FROM aug
    """,
)
def j19_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before a corpus ships: email/phone/IPv4 patterns replaced with
    typed placeholders, plus per-doc redaction counts for audit. The
    corpus is synthetic bag-of-words, so deterministic PII is injected
    from doc_id first (making the scrub verifiably non-trivial), then
    removed. Patterns stay in the RE2-and-Java-compatible subset (C6);
    DuckDB side uses the 'g' flag (Spark replaces all by default).
    Map-side only — scales as a pure scan transform."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(raw, F.lit(_IP_RE)).cast("long").alias("n_ips"),
    )


# --- j20: overlapping document chunking ---------------------------------------------
_CHUNK_LEN = 200
_CHUNK_STRIDE = 150


@register(
    "j20",
    oracle=f"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text), 1) + 1, {_CHUNK_STRIDE})) AS start
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INT)                      AS chunk_no,
           CAST(start AS INT)                                               AS start_pos,
           substr(text, CAST(start AS INT), {_CHUNK_LEN})                   AS chunk,
           CAST(length(substr(text, CAST(start AS INT), {_CHUNK_LEN})) AS INT) AS chunk_len
    FROM starts
    """,
)
def j20_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking (200-char windows, stride 150 →
    50-char overlap) — how long documents become training sequences. The
    chunk grid is a per-doc `sequence` fan-out + explode: purely map-side,
    output bounded by corpus_chars/stride, no shuffle anywhere. At 100 TB
    this is the same scan transform; a tokenizer-exact variant swaps the
    substring for a Pandas-UDF slice over token offsets."""
    d = table(spark, sf_dir, "documents")
    starts = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.col("text").substr(F.col("start"), F.lit(_CHUNK_LEN))
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_no"),
        F.col("start").cast("int").alias("start_pos"),
        chunk.alias("chunk"),
        F.length(chunk).cast("int").alias("chunk_len"),
    )


# --- j21: intra-document repetition score (C4/Gopher quality rule) -------------------
@register(
    "j21",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 2 + 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS tri
      FROM toks
    )
    SELECT doc_id,
           CAST(len(tri) AS INT)                AS n_trigrams,
           CAST(len(list_distinct(tri)) AS INT) AS n_distinct,
           CASE WHEN len(tri) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE)
           END                                  AS dup_fraction,
           (len(tri) > 0 AND
            1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE) > 0.2)
                                                AS flagged
    FROM g
    """,
)
def j21_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (duplicate word-trigram fraction) — the
    C4/Gopher "repetitious document" quality rule. Unlike j2/j9 (ACROSS
    documents), this measures repetition WITHIN one document, so it is
    zero-shuffle: trigram list, distinct count, and fraction are all
    array expressions on the scan (whole-stage codegen). Guarded for
    docs shorter than one trigram (empty list, fraction 0)."""
    # r10: spread_scan — the trigram transform/distinct is an interpreted
    # per-doc HOF chain; one-split scan would run it on a single core
    d = spread_scan(spark, sf_dir, "documents")
    # r10: materialize the token array as a COLUMN first. Referencing the
    # raw split() expression via element_at inside the transform lambda
    # re-evaluated the full tokenization per (position, offset) — O(n^2)
    # work per document. A non-cheap alias is not re-inlined by
    # CollapseProject, so each row tokenizes exactly once.
    toks = d.select("doc_id", tokens("text").alias("w"))
    w = F.col("w")
    n = F.size(w)
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # same rule for the trigram list: alias it, THEN take the two sizes
    base = toks.select("doc_id", tri.alias("tri")).select(
        "doc_id",
        F.size(F.col("tri")).alias("n_trigrams"),
        F.size(F.array_distinct(F.col("tri"))).alias("n_distinct"),
    )
    frac = F.when(
        F.col("n_trigrams") == 0, F.lit(0.0)
    ).otherwise(1.0 - F.col("n_distinct") / F.col("n_trigrams").cast("double"))
    return base.select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        frac.alias("dup_fraction"),
        ((F.col("n_trigrams") > 0) & (frac > 0.2)).alias("flagged"),
    )


# --- j22: benchmark decontamination (n-gram overlap vs held-out eval split) ----------
_J22_NGRAM = 4  # corpus-calibrated (j12 style): real pipelines use 8-13-gram
                # overlap; this synthetic small-vocab corpus only collides at 4.
_J22_BUCKET = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"


@register(
    "j22",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_J22_BUCKET} AS bucket, string_split(text, ' ') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, bucket,
             CASE WHEN len(w) >= 4
                  THEN list_transform(
                         list_distinct(list_transform(range(1, len(w) - 4 + 1 + 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                                w[i+3])),
                         s -> md5(s))
                  ELSE [] END AS gh
      FROM toks
    ),
    ev AS (SELECT DISTINCT unnest(gh) AS gh FROM g WHERE bucket >= 98),
    tr AS (SELECT doc_id, unnest(gh) AS gh FROM g WHERE bucket < 98)
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
    FROM tr JOIN ev USING (gh)
    GROUP BY tr.doc_id
    """,
)
def j22_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents that share any word
    n-gram (n=4, corpus-calibrated — see _J22_NGRAM) with the held-out
    eval split (the m1 md5-bucket rule, top 2%) — the standard
    n-gram-overlap contamination check run before a training corpus
    ships. The eval side's distinct gram-hash set is BROADCAST
    (benchmarks are tiny vs a 100 TB corpus), so the check costs one
    scan of the training side plus a broadcast-hash join — no shuffle
    of the corpus. Gram build is guarded for short docs."""
    from scopus_spark.queries.sampling import _bucket

    # r10: spread_scan — per-doc gram build + md5 chain (guide §2.5)
    d = spread_scan(spark, sf_dir, "documents")
    # r10: token array materialized as a column first (the j21 fix) —
    # element_at on the raw split() expression inside the lambda
    # re-tokenized the document per (position, offset): O(n^2) per doc.
    toks = d.select("doc_id", tokens("text").alias("w"))
    w = F.col("w")
    n = F.size(w)
    k = _J22_NGRAM
    grams = F.when(
        n >= k,
        F.transform(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(w, i + j) for j in range(k)]
                    ),
                )
            ),
            lambda s: F.md5(s),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_bucket = toks.select(
        "doc_id", _bucket(F.col("doc_id")).alias("bucket"), grams.alias("gh")
    )
    eval_grams = (
        with_bucket.filter(F.col("bucket") >= 98)
        .select(F.explode("gh").alias("gh"))
        .distinct()
    )
    train = with_bucket.filter(F.col("bucket") < 98).select(
        "doc_id", F.explode("gh").alias("gh")
    )
    # gh is distinct per doc already, so count(*) == distinct overlap count.
    return (
        train.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


# --- j23: token-budget shard packing (distributed prefix sum) ------------------------
_J23_BUDGET = 4000
@register(
    "j23",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST((sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                // {_J23_BUDGET} AS BIGINT) AS shard_id
    FROM t
    """,
)
def j23_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign documents (in stable doc_id
    order) to training shards of ~4000 approx-BPE tokens each, via a
    DISTRIBUTED two-level prefix sum — the oracle's single global
    `sum() OVER (ORDER BY doc_id)` would serialize 100 TB through one
    sort, so the Spark plan never does that:

      1. per-bucket cumsum: window partitioned on doc_id // width, width
         auto-sized to cap the offsets table at ~64k rows (one hash
         shuffle of (doc_id, n_tokens) pairs — the only full-data shuffle),
      2. bucket totals: a hash aggregate, thousands of rows at any scale,
      3. running offsets over the TINY totals table (the only
         single-partition window — O(#buckets) rows, never corpus rows),
      4. broadcast the offsets back onto the per-bucket cumsums.

    All-integer arithmetic → exact, partitioning-independent, HASH-green.
    shard_id uses the exclusive prefix (cum - own), so a doc starting
    inside shard k stays in shard k even when it overflows the budget."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.ceil(F.length("text") / 4.0).alias("n_tokens"))
    cum = two_level_cumsum(t, order_col="doc_id", value_col="n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        F.col("cumsum").alias("cum_tokens"),
        F.floor(
            (F.col("cumsum") - F.col("n_tokens")) / _J23_BUDGET
        ).alias("shard_id"),
    )


def two_level_cumsum(
    t: DataFrame,
    order_col: str,
    value_col: str,
    bucket_width: int | None = None,
    target_buckets: int = 65536,
) -> DataFrame:
    """Distributed prefix sum over `order_col` order (the j23 core,
    reusable): per-bucket cumsum window + running offsets over the tiny
    bucket-totals table broadcast back. Equals the sequential
    `sum() OVER (ORDER BY order_col)` exactly (property-tested in
    tests/test_properties.py) with no global sort of the data — the only
    single-partition work is O(#buckets) rows. Requires a non-negative
    integer-ish order column (bucket = order // bucket_width).

    The offsets table is O(id_range / bucket_width) rows, so a FIXED
    width stops being broadcastable at extreme id ranges. Default
    (bucket_width=None) auto-sizes width = ceil(range / target_buckets)
    from a cheap min/max agg, capping the offsets table at
    ~target_buckets rows (65536 × 16 B ≈ 1 MB) for ANY id range; the
    result is width-independent, so the auto choice never changes values.
    """
    if bucket_width is None:
        lo, hi = t.agg(F.min(order_col), F.max(order_col)).first()
        span = int(hi) - int(lo) + 1 if lo is not None else 1
        bucket_width = max(1, -(-span // target_buckets))
    b = t.withColumn(
        "_bkt", (F.col(order_col) / bucket_width).cast("long")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_in = b.withColumn("_cum_in", F.sum(value_col).over(w_in))
    totals = b.groupBy("_bkt").agg(F.sum(value_col).alias("_total"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_total").over(w_off), F.lit(0)).alias("_offset")
    )
    return (
        cum_in.join(F.broadcast(offsets), "_bkt")
        .withColumn("cumsum", F.col("_offset") + F.col("_cum_in"))
        .drop("_bkt", "_cum_in", "_offset")
    )


# --- j24: corpus-frequency quality score (CCNet-style rarity filter) -----------------
@register(
    "j24",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY t
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT)       AS n_tokens,
           CAST(sum(v.cf) AS BIGINT)      AS sum_cf,
           CAST(min(v.cf) AS BIGINT)      AS min_cf,
           CAST(sum(v.cf) AS DOUBLE) / (count(*) * any_value(n.total))
                                          AS mean_token_freq,
           (min(v.cf) <= 2)               AS has_hapax
    FROM tok JOIN vocab v USING (t) CROSS JOIN n
    GROUP BY tok.doc_id
    """,
)
def j24_corpus_freq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring (the CCNet/KenLM rarity-filter
    shape, transcendental-free): each document scored by the corpus-wide
    frequency of its tokens — mean token frequency (rare-token-heavy docs
    score low → OCR garbage, boilerplate-free gibberish) and a hapax flag.
    Everything stays in exact BIGINT space (count sums) until ONE final
    double division, so the result is partitioning-independent with no
    decimal pass-through needed — the n6 determinism lesson applied by
    construction instead of by repair.

    Plan: explode tokens (map-side) → one token-shuffle builds the vocab
    count table → vocab joins BACK to the token stream via an UNHINTED
    equi-join on t. A web-scale vocabulary is mostly hapax legomena and
    grows with the corpus, so it must NOT be force-broadcast; letting
    Catalyst/AQE choose means broadcast when stats allow, shuffled hash
    join (AQE skew-splittable) otherwise. Total corpus token count rides
    along as a broadcast 1-row aggregate (the j5 pattern, fully lazy)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cf"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    return (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").alias("sum_cf"),
            F.min("cf").alias("min_cf"),
            (
                F.sum("cf").cast("double")
                / (F.count(F.lit(1)) * F.any_value("total"))
            ).alias("mean_token_freq"),
            (F.min("cf") <= 2).alias("has_hapax"),
        )
    )


# --- j25: incremental LSH dedup (new batch vs maintained signature table) ------------
_J25_BUCKET_A = "('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 15))::BIGINT % 100"
_J25_BUCKET_B = "('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 100"


@register(
    "j25",
    oracle=f"""
    SELECT doc_a, doc_b, n_shared_bands FROM ({J9_PAIRS_SQL}) p
    WHERE {_J25_BUCKET_A} >= 90 OR {_J25_BUCKET_B} >= 90
    """,
)
def j25_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection — the production shape of dedup at
    100 TB, where a daily batch must be checked against the corpus
    WITHOUT recomputing the corpus's signatures: the existing corpus
    (md5-bucket < 90) has its LSH band table materialized on disk once;
    the new batch (bucket >= 90) computes only its own bands, probes the
    stored table plus itself (old docs never probe, so each unordered
    pair surfaces exactly once), and then MERGEs its bands into the
    table via the keyed upsert so the NEXT batch sees them. Cost per
    batch = O(batch) signature work + one band-join against stored
    bands; the oracle is the full-corpus j9 pair set restricted to pairs
    touching the batch — a green hash proves incremental == full.

    The stored band table partitions on a hash bucket of doc_id (a pure
    function of the merge key), NOT on band_no: band_no has only 4
    distinct values and every batch carries all 4, so partitioning on it
    would make each maintenance MERGE rewrite the ENTIRE table; with
    doc-id buckets a batch rewrites only the buckets its docs land in —
    cost per batch really is O(batch).

    Round 7: the band table is a snapshot-isolated VersionedTable
    (operators/manifest.py). Data files are immutable and the MERGE
    commits by atomic pointer swap, so the lazy pair plan reads the
    pinned pre-merge snapshot WITHOUT the eager cut the
    stage-and-swap layout needed (the r5 'j25 lesson' materialization) —
    one less full copy of the stored bands per batch."""
    import shutil

    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.queries.sampling import _bucket

    # r10: spread_scan — both splits run the full MinHash signature map
    d = spread_scan(spark, sf_dir, "documents")
    bucket = _bucket(F.col("doc_id"))
    existing = d.filter(bucket < 90)
    batch = d.filter(bucket >= 90)

    def banded(docs: DataFrame) -> DataFrame:
        return dedup.banded_signatures(docs).withColumn(
            # storage-layout bucket only (never leaves the engine, so the
            # cheap modulus is fine — no cross-engine md5 contract needed)
            "doc_bkt",
            F.pmod("doc_id", F.lit(64)),
        )

    target = stage_dir(sf_dir, "j25_bands")
    shutil.rmtree(target, ignore_errors=True)
    vt = VersionedTable(target)
    vt.write_initial(banded(existing), "doc_bkt")

    # pinned: the batch's band signatures feed THREE subtrees (probe
    # join side, the stored∪probe build side, and the maintenance MERGE
    # below) — each would otherwise re-run the full shingle-explode
    # MinHash pipeline over the batch (r10 measure)
    probe = execution.pin(banded(batch).withColumn("is_old", F.lit(False)))
    # snapshot-pinned read: the maintenance MERGE below only ADDS data
    # files and swaps the manifest pointer, so this lazy frame keeps
    # reading the pre-merge snapshot — no eager checkpoint required
    stored = (
        vt.read(spark)
        .select("doc_id", "band_no", "band_hash", "doc_bkt")
        .withColumn("is_old", F.lit(True))
    )
    build = stored.unionByName(probe)
    p, s = probe.alias("p"), build.alias("s")
    pairs = (
        p.join(
            s,
            (F.col("p.band_no") == F.col("s.band_no"))
            & (F.col("p.band_hash") == F.col("s.band_hash"))
            & (F.col("s.is_old") | (F.col("p.doc_id") < F.col("s.doc_id"))),
        )
        .groupBy(
            F.least(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # maintenance: the batch's bands merge into the stored table so the
    # next increment probes against (old ∪ this batch)
    vt.merge(
        probe.drop("is_old"),
        key_cols=["doc_id", "band_no"],
        partition_col="doc_bkt",
    )
    return pairs


# --- j26: packed training samples (shard -> one ordered concatenated sample) ---------
@register(
    "j26",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, text, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS excl
      FROM t
    )
    SELECT CAST(excl // {_J23_BUDGET} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT)              AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)         AS total_tokens,
           md5(string_agg(text, '<|doc|>' ORDER BY doc_id)) AS sample_md5
    FROM c
    GROUP BY 1
    """,
)
def j26_packed_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of training-data prep: each j23 token-budget shard
    materialized as ONE training sample — its documents concatenated in
    stable doc_id order with a separator token (here fingerprinted as
    md5, so the hash gate verifies the exact packed BYTES without
    shipping megabyte rows through the compare). Ordered concatenation
    inside a group is collect_list(struct) -> array_sort -> array_join —
    deterministic under any partitioning because the order is data
    (doc_id), never arrival. Composes the two_level_cumsum shard
    assignment (no global sort) with d21's ordered-aggregation
    semantics; per-shard sample size is bounded by the token budget, so
    the concat is executor-safe at any corpus scale."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "text", F.ceil(F.length("text") / 4.0).alias("n_tokens")
    )
    cum = two_level_cumsum(t, order_col="doc_id", value_col="n_tokens")
    sharded = cum.select(
        "doc_id",
        "text",
        "n_tokens",
        F.floor(
            (F.col("cumsum") - F.col("n_tokens")) / _J23_BUDGET
        ).alias("shard_id"),
    )
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda x: x["text"],
        ),
        "<|doc|>",
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.md5(packed).alias("sample_md5"),
    )


# --- j27: REAL image decode + channel statistics (raw-RGB tier) ----------------------
@register(
    "j27",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE octet_length(encode(text)) >= 3
    ),
    px AS (
      -- byte-level decode (NOT characters): byte i = one hex pair, so the
      -- oracle sees the exact UTF-8 buffer the Spark side frombuffer()s.
      SELECT doc_id, (i - 1) % 3 AS chan,
             ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
      FROM (
        SELECT doc_id, hx,
               unnest(range(1, (n_bytes // 3) * 3 + 1)) AS i
        FROM b
      )
    )
    SELECT doc_id AS media_id,
           CAST(count(*) // 3 AS BIGINT) AS n_pixels,
           -- integer `//` keeps the variance NUMERATOR in exact HUGEINT
           -- (count(*)/3 would be DOUBLE: n*ssq past 2^53 would round),
           -- so each stat performs exactly ONE double division, matching
           -- the Spark side's exact-Python-int arithmetic.
           sum(v) FILTER (chan = 0) / (count(*) // 3)  AS mean_r,
           sum(v) FILTER (chan = 1) / (count(*) // 3)  AS mean_g,
           sum(v) FILTER (chan = 2) / (count(*) // 3)  AS mean_b,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 0)
              - sum(v) FILTER (chan = 0) * sum(v) FILTER (chan = 0))
             / ((count(*) // 3) * (count(*) // 3))      AS var_r,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 1)
              - sum(v) FILTER (chan = 1) * sum(v) FILTER (chan = 1))
             / ((count(*) // 3) * (count(*) // 3))      AS var_g,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 2)
              - sum(v) FILTER (chan = 2) * sum(v) FILTER (chan = 2))
             / ((count(*) // 3) * (count(*) // 3))      AS var_b
    FROM px GROUP BY doc_id
    """,
)
def j27_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode + feature extraction (no stub in the loop):
    payloads are raw RGB888 buffers (an actual wire format — ffmpeg
    rawvideo), decoded with numpy frombuffer inside Arrow batches, and
    per-channel mean/variance computed vectorized — exactly the shape a
    CLIP-style embedding UDF has (decode -> ndarray -> per-image vector).
    Only COMPRESSED codecs stay stubbed (operators/multimodal.py). The
    oracle recomputes the statistics byte-by-byte in SQL; both sides keep
    sums in exact int64 and perform one double division per stat, so the
    hash matches with no rounding at all.

    100 TB shape: decode+stats are pure map work (mapInPandas, no
    shuffle); the only movement is the parquet scan itself."""
    media = multimodal.attach_raw_rgb(
        # octet_length, not length: the decoder consumes UTF-8 BYTES
        table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 3)
    )
    return multimodal.image_channel_stats(media)


# --- j28: incremental ANN/1-NN via a persisted IVF index -----------------------------
@register(
    "j28",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id, a.label AS label_a, b.vec_id AS nn_id, b.label AS label_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 90
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM pairs
    )
    SELECT vec_id, nn_id, cos_sim, (label_a = label_b) AS label_match
    FROM ranked WHERE rn = 1
    """,
)
def j28_incremental_1nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL similarity search — the j25 production shape applied to
    the vector tier: a daily batch of embeddings must be matched against
    the corpus WITHOUT re-indexing it. The existing corpus (md5-bucket
    < 90) has its IVF index persisted once: a centroid table plus the
    cell-assigned vector table PARTITIONED BY cell_id on disk. The new
    batch (bucket >= 90) is assigned map-side against the STORED broadcast
    centroids, runs the bound-pruned exact 1-NN (operators/similarity.
    exact_1nn_for) with itself ∪ the stored index as the corpus — so only
    the batch's own + probed cells are scanned, cost O(batch · corpus /
    n_cells), never a re-index — and then MERGEs its assignments into the
    index so the next batch sees them (insert-only: vec_ids are new and
    re-assignment against fixed stored centroids is deterministic, so the
    partition contract holds). Oracle = brute-force 1-NN of the batch over
    the FULL corpus: a green hash proves incremental == full, exactly.
    """
    import json
    import shutil

    from scopus_spark.catalog import row_count_estimate
    from scopus_spark.operators import similarity as sim
    from scopus_spark.operators.manifest import VersionedTable
    from scopus_spark.queries.sampling import _bucket

    # r10 note: spread_scan measured SLOWER here (9.0 vs 6.2 s) — the
    # construction writes the cell-partitioned index, and a 32-way
    # pre-spread multiplies its output files; the write shuffle already
    # spreads the work. Left on the plain scan deliberately.
    e = table(spark, sf_dir, "embeddings")
    bucket = _bucket(F.col("vec_id"))
    existing = e.filter(bucket < 90)
    batch = e.filter(bucket >= 90)

    root = stage_dir(sf_dir, "j28_ivf")
    cents_path, index_path = f"{root}/centroids", f"{root}/index"
    shutil.rmtree(root, ignore_errors=True)
    # one-time index build over the existing corpus. Size n_cells from the
    # BASE table's parquet-footer row count (catalog.row_count_estimate —
    # ZERO Spark jobs, the j31 pattern) scaled by the split fraction;
    # running e.count() here would schedule a plan-build job, and counting
    # `existing` itself would evaluate the md5 bucket per row — a full scan
    # at plan-build time that is pure waste at 100 TB. Exactness never
    # depends on n_cells (it only tunes pruning), so an estimate is safe;
    # the count lands in the persisted index metadata below so later
    # invocations (or j31-style k-NN joins against this index) size
    # n_cells with zero jobs too. Pinned by
    # tests/test_plans.py::test_j28_plan_build_schedules_zero_jobs.
    base = sim.prepare_vectors(existing)
    n_rows_est = int(row_count_estimate(sf_dir, "embeddings") * 0.9)
    n_cells = sim.auto_n_cells(n_rows_est)
    # r10: sampled Lloyd fit (exactness is centroid-independent)
    sim.fit_centroids(base, n_cells, n_rows_est).write.parquet(cents_path)
    cents = spark.read.parquet(cents_path)
    vt = VersionedTable(index_path)
    vt.write_initial(sim.assign_cells(base, cents), "cell_id")
    with open(f"{root}/index_meta.json", "w") as fh:
        json.dump({"n_cells": n_cells, "n_rows_est": n_rows_est}, fh)

    # incremental pass: batch assigned against the STORED centroids. The
    # index is a snapshot-isolated VersionedTable (operators/manifest.py):
    # the maintenance MERGE below only adds immutable data files and swaps
    # the manifest pointer, so this lazy read stays pinned to the
    # pre-merge snapshot — no eager checkpoint needed (the r5 'j25
    # lesson' copy is gone).
    batch_assigned = sim.assign_cells(sim.prepare_vectors(batch), cents)
    stored = vt.read(spark).select(
        "vec_id", "label", "emb", "nrm", "cell_id", "cos_centroid"
    )
    corpus = stored.unionByName(batch_assigned)
    result = sim.exact_1nn_for(batch_assigned, corpus, cents)

    # maintenance MERGE: next batch probes (old ∪ this batch)
    vt.merge(
        batch_assigned, key_cols=["vec_id"], partition_col="cell_id"
    )
    return result


# --- j30: character-n-gram language ID (Cavnar-Trenkle profile method) ---------------
_J30_TOPK = 40   # profile size: top trigrams per language
_J30_TRAIN = 10  # md5-bucket < 10 -> labeled training subset


@register(
    "j30",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id, lang, {_J22_BUCKET} AS bucket,
             list_distinct(list_transform(
               range(1, greatest(length(text) - 3 + 1, 0) + 1),
               i -> substr(text, CAST(i AS INT), 3))) AS tris
      FROM documents
    ),
    train AS (
      SELECT lang, unnest(tris) AS tri FROM tri WHERE bucket < {_J30_TRAIN}
    ),
    prof_counts AS (
      SELECT lang, tri, count(*) AS cnt FROM train GROUP BY lang, tri
    ),
    prof AS (
      SELECT lang AS p_lang, tri FROM (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY cnt DESC, tri ASC) AS rn
        FROM prof_counts
      ) WHERE rn <= {_J30_TOPK}
    ),
    doc_tri AS (SELECT doc_id, unnest(tris) AS tri FROM tri),
    hits AS (
      SELECT d.doc_id, p.p_lang, count(*) AS n_hits
      FROM doc_tri d JOIN prof p USING (tri)
      GROUP BY d.doc_id, p.p_lang
    ),
    langs AS (SELECT DISTINCT lang AS p_lang FROM documents),
    scored AS (
      SELECT t.doc_id, t.lang AS true_lang, l.p_lang,
             coalesce(h.n_hits, 0) AS n_hits
      FROM (SELECT doc_id, lang FROM documents) t
      CROSS JOIN langs l
      LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.p_lang = l.p_lang
    ),
    pred AS (
      SELECT doc_id, true_lang, p_lang AS pred_lang, n_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, p_lang ASC) AS rn
      FROM scored
    )
    SELECT doc_id, pred_lang, CAST(n_hits AS BIGINT) AS n_hits,
           (pred_lang = true_lang) AS is_correct
    FROM pred WHERE rn = 1
    """,
)
def j30_ngram_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language identification (the Cavnar-Trenkle
    profile method, the brief's literal 'language-ID (n-gram heuristic)'
    — j13's marker-word ladder is the cheap tier, this is the real one):
    per-language profiles = the top-40 character trigrams of a labeled
    10%% training subset (md5-bucket rule, shared with j22); every
    document is scored by profile overlap of its distinct trigrams and
    predicted as the argmax language (hit-count desc, lang asc
    tie-break). Output carries is_correct against the corpus label, so
    the hash also fixes the method's accuracy.

    100 TB shape: profile building touches only the training subset and
    reduces map-side into a ≤ n_langs * 40-row table — broadcast by
    construction; scoring is explode + broadcast join + one doc-keyed
    aggregate; the 5-langs-per-doc argmax frame is a per-doc window over
    a bounded fan-out. No corpus-scale shuffle besides the doc aggregate.
    """
    # r10: spread_scan — per-doc char-trigram explode + profile scoring
    d = spread_scan(spark, sf_dir, "documents")
    from scopus_spark.queries.sampling import _bucket

    # sequence(1, 0) steps DOWNWARD ([1, 0]) when text is shorter than 3
    # chars, which would fabricate phantom sub-3-char "trigrams"; the
    # oracle's range() yields an empty list there — mirror it exactly.
    idx = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    tris = F.array_distinct(
        F.transform(idx, lambda i: F.col("text").substr(i, F.lit(3)))
    )
    base = d.select("doc_id", "lang", _bucket(F.col("doc_id")).alias("bucket"),
                    tris.alias("tris"))
    train = base.filter(F.col("bucket") < _J30_TRAIN).select(
        "lang", F.explode("tris").alias("tri")
    )
    w_prof = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tri").asc()
    )
    prof = (
        train.groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= _J30_TOPK)
        .select(F.col("lang").alias("p_lang"), "tri")
    )
    doc_tri = base.select("doc_id", F.explode("tris").alias("tri"))
    hits = (
        doc_tri.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    langs = d.select(F.col("lang").alias("p_lang")).distinct()
    scored = (
        d.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(langs))
        .join(hits, ["doc_id", "p_lang"], "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("p_lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("p_lang").alias("pred_lang"),
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("p_lang") == F.col("true_lang")).alias("is_correct"),
        )
    )


# --- j31: batched multi-query exact k-NN join (retrieval / decontamination) ----------
@register(
    "j31",
    oracle="""
    WITH pairs AS (
      SELECT q.vec_id, q.label AS label_q, c.vec_id AS nn_id, c.label AS label_c,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON TRUE
      WHERE ('0x' || substr(md5(CAST(q.vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 90
        AND ('0x' || substr(md5(CAST(c.vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM pairs
    )
    SELECT vec_id, nn_id, CAST(rn AS BIGINT) AS rank, cos_sim,
           (label_q = label_c) AS label_match
    FROM ranked WHERE rn <= 5
    """,
)
def j31_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query EXACT k-NN join: top-5 corpus neighbors for
    EVERY vector of a query table — the retrieval shape LLM pipelines
    actually run (embedding-level eval-set decontamination, RAG-style
    retrieval, semantic dedup across corpora). Query set = the m1-style
    eval split (md5 bucket >= 90); corpus = the train split (bucket < 90),
    disjoint id spaces, so this is the k-NN JOIN proper (no self-matches
    to suppress). Routed through operators/similarity.exact_topk_join:
    IVF cell assignment against broadcast centroids (map-side), own-cell
    equi-join, then bound-pruned probes — provably exact at rank k (the
    k-th-best own-cell similarity is the pruning threshold; see the
    operator docstring for the tie-safety argument). Oracle = brute-force
    k-NN over the full query x corpus cross product: a green hash proves
    pruned == brute force exactly, ranks and tie-breaks included.

    100 TB shape: the only corpus-scale movement is the cell_id equi-join
    (keys bounded by n_cells ~ sqrt(|corpus|), AQE skew-split on fat
    cells); the query table never cross-joins the corpus.
    """
    from scopus_spark.queries.sampling import _bucket

    # r10: spread_scan — assignment/scoring map work off the 1-split scan
    e = spread_scan(spark, sf_dir, "embeddings")
    b = _bucket(F.col("vec_id"))
    corpus = e.filter(b < 90)
    queries = e.filter(b >= 90)

    # Plan construction schedules ZERO jobs (pinned by
    # test_j31_plan_build_schedules_zero_jobs): n_cells comes from the
    # parquet footer's row count (driver-side catalog metadata — even a
    # column-pruned df.count() is a job) scaled by the split fraction;
    # exactness never depends on n_cells, so the 0.9 estimate is safe.
    # The centroid table is a pin, not a cut: a cut runs the refine
    # lineage's shuffle stages at plan-build time (8 jobs); a pin defers
    # everything to the first action and still computes the
    # three-subtree-shared centroids exactly once.
    base_c = similarity.prepare_vectors(corpus)
    from scopus_spark.catalog import row_count_estimate

    n_rows_est = int(row_count_estimate(sf_dir, "embeddings") * 0.9)
    n_cells = similarity.auto_n_cells(n_rows_est)
    # r10: sampled Lloyd fit (exactness is centroid-independent; the
    # full-corpus fit was 2 extra interpreted corpus passes — see
    # similarity.fit_centroids)
    cents = execution.pin(similarity.fit_centroids(base_c, n_cells, n_rows_est))
    c_assigned = similarity.assign_cells(base_c, cents)
    q_assigned = similarity.assign_cells(similarity.prepare_vectors(queries), cents)
    return similarity.exact_topk_join(
        q_assigned, c_assigned, cents, k=5, exclude_self=False
    )


# --- j32: REAL PNG decode + channel statistics (compressed-codec tier) ---------------
@register(
    "j32",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE octet_length(encode(text)) >= 3
    ),
    px AS (
      SELECT doc_id, (i - 1) % 3 AS chan,
             ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
      FROM (
        SELECT doc_id, hx,
               unnest(range(1, (n_bytes // 3) * 3 + 1)) AS i
        FROM b
      )
    )
    SELECT doc_id AS media_id,
           CAST(count(*) // 3 AS BIGINT) AS n_pixels,
           sum(v) FILTER (chan = 0) / (count(*) // 3)  AS mean_r,
           sum(v) FILTER (chan = 1) / (count(*) // 3)  AS mean_g,
           sum(v) FILTER (chan = 2) / (count(*) // 3)  AS mean_b,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 0)
              - sum(v) FILTER (chan = 0) * sum(v) FILTER (chan = 0))
             / ((count(*) // 3) * (count(*) // 3))      AS var_r,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 1)
              - sum(v) FILTER (chan = 1) * sum(v) FILTER (chan = 1))
             / ((count(*) // 3) * (count(*) // 3))      AS var_g,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 2)
              - sum(v) FILTER (chan = 2) * sum(v) FILTER (chan = 2))
             / ((count(*) // 3) * (count(*) // 3))      AS var_b
    FROM px GROUP BY doc_id
    """,
)
def j32_png_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: payloads are genuine PNG FILES
    (zlib-deflated, filter types cycling Sub/Up/Average/Paeth/None row by
    row) staged from the same deterministic pixel buffers as j27, then
    decoded by the dependency-free PNG decoder (operators/png.py: stdlib
    zlib inflate + numpy scanline filter reconstruction) inside the same
    Arrow-batched channel-stats extractor. The oracle is j27's byte-level
    ground truth on the ORIGINAL pixels — a green hash proves the full
    encode -> inflate -> unfilter -> stats loop reconstructs every pixel
    of every document exactly (any single-byte decode error shifts a sum
    and breaks the hash). This closes the compressed-codec gap for PNG;
    only DCT codecs (JPEG) remain stubbed.

    100 TB shape: encode+decode+stats are pure map work (two mapInPandas
    stages, no shuffle); a real corpus skips the staging encode and
    scans stored PNGs via binaryFile (a21)."""
    media = multimodal.attach_png(
        table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 3)
    )
    return multimodal.image_channel_stats(media)


# --- j33: REAL baseline JPEG decode + block statistics (DCT-codec tier) --------------
@register(
    "j33",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
      WHERE octet_length(encode(text)) BETWEEN 1 AND 8191
    ),
    px AS (
      SELECT doc_id, ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
      FROM (
        SELECT doc_id, hx, unnest(range(1, n_bytes + 1)) AS i FROM b
      )
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT)  AS n_blocks,
           sum(v) / count(*)         AS mean_y,
           (count(*) * sum(v * v) - sum(v) * sum(v))
             / (count(*) * count(*)) AS var_y
    FROM px GROUP BY doc_id
    """,
)
def j33_jpeg_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DCT-codec decode — the tier j32 left stubbed: payloads are
    genuine baseline JFIF files (operators/jpeg.py: pure stdlib+numpy
    T.81 codec — canonical Huffman entropy coding with byte stuffing and
    per-component DC prediction, zigzag, quantization, orthonormal matrix
    FDCT/IDCT, JFIF markers) staged from the text bytes as CONSTANT 8x8
    grayscale blocks, then Huffman-decoded, dequantized, and
    inverse-transformed back to pixels inside an Arrow-batched extractor.
    Block-constant content survives quant=1 JPEG exactly (only the DC
    coefficient is nonzero and its rounding is lossless), so the decoded
    block statistics must equal the byte-level ground truth the oracle
    computes straight off the text — a green hash proves the full
    entropy-encode -> entropy-decode -> dequant -> IDCT loop is
    bit-faithful for every block of every document, with the extractor's
    block-constancy guard turning any in-block deviation into a loud
    sentinel instead of a silent near-miss. Encoder and decoder share no
    Huffman-table constant (tables travel in DHT), and byte-level
    decoder vectors in tests/test_jpeg.py are hand-built independent of
    the encoder, so encode/decode bug-cancellation (the round-5 Paeth
    lesson) cannot hide a spec deviation.

    100 TB shape: encode+decode+stats are pure map work (two mapInPandas
    stages, zero shuffle); a real corpus skips the staging encode and
    scans stored JPEGs via binaryFile (a21). The 8191-byte filter is
    JPEG's 16-bit width limit at 8 px per block — stated, and mirrored in
    the oracle."""
    docs = table(spark, sf_dir, "documents").filter(
        F.octet_length("text").between(1, 8191)
    )
    return multimodal.jpeg_block_stats(multimodal.attach_jpeg(docs))


# --- j34: 4:2:0-subsampled color JPEG decode + block statistics ----------------------
@register(
    "j34",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
      WHERE octet_length(encode(text)) BETWEEN 1 AND 8191
    ),
    px AS (
      SELECT doc_id, ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
      FROM (
        SELECT doc_id, hx, unnest(range(1, n_bytes + 1)) AS i FROM b
      )
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT)  AS n_blocks,
           sum(v) / count(*)         AS mean_y,
           (count(*) * sum(v * v) - sum(v) * sum(v))
             / (count(*) * count(*)) AS var_y
    FROM px GROUP BY doc_id
    """,
)
def j34_jpeg420_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled COLOR JPEG decode — the layout nearly every
    real-world JPEG ships — hash-proven bit-exact via the gray-in-color
    construction: staged payloads carry Y = the text bytes as constant
    blocks and exactly-zero chroma (r=g=b input cancels the JFIF Cb/Cr
    formulas to 128, and 2x2-mean subsampling of a constant plane is
    lossless), so the decoder's full 4:2:0 path — interleaved MCUs of
    four Y blocks plus Cb plus Cr, per-component DC prediction across a
    multi-block MCU, chroma upsampling, YCbCr->RGB — must reproduce the
    byte-level ground truth channel-for-channel or the extractor's
    equality guards emit a loud sentinel. Complements j33 (4:4:4
    grayscale): between them the two keys pin both MCU geometries the
    baseline decoder supports. Same zero-shuffle two-mapInPandas-stage
    plan as j32/j33."""
    docs = table(spark, sf_dir, "documents").filter(
        F.octet_length("text").between(1, 8191)
    )
    return multimodal.jpeg_block_stats(multimodal.attach_jpeg420(docs))


# --- j35: REAL WAV (RIFF PCM) audio decode + feature extraction ----------------------
@register(
    "j35",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE octet_length(encode(text)) >= 2
    ),
    s AS (
      SELECT doc_id, i,
             ('0x' || substr(hx, 4 * i - 3, 2))::BIGINT
             + 256 * ('0x' || substr(hx, 4 * i - 1, 2))::BIGINT AS u
      FROM (
        SELECT doc_id, hx, unnest(range(1, n_bytes // 2 + 1)) AS i FROM b
      )
    ),
    v AS (
      SELECT doc_id, i,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
      FROM s
    ),
    x AS (
      SELECT doc_id, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM v
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT)               AS n_samples,
           CAST(8000 AS BIGINT)                   AS sample_rate,
           CAST(max(abs(v)) AS BIGINT)            AS peak_abs,
           sum(v) / count(*)                      AS mean_amp,
           sqrt(sum(v * v) / count(*))            AS rms,
           CAST(count(*) FILTER (pv IS NOT NULL AND ((v < 0) != (pv < 0)))
                AS BIGINT)                        AS zero_crossings
    FROM x GROUP BY doc_id
    """,
)
def j35_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode — the multimodal tier's third modality: payloads
    are genuine RIFF/WAVE files (operators/wav.py: stdlib-struct
    container framing, fmt/data chunk walk with halfword alignment,
    little-endian int16 PCM) staged from the text bytes as PCM samples,
    then decoded and reduced to the classic per-clip features (sample
    count, peak amplitude, mean amplitude, RMS energy, zero-crossing
    count). PCM is lossless, so — unlike the image tiers' block-constant
    constructions — exactness needs no staging trick: the oracle
    reconstructs the same int16 samples byte-by-byte in SQL, and a green
    hash proves the container encode -> parse -> sample-decode ->
    feature loop is byte-faithful (mean/rms are one double division and
    one IEEE sqrt from exact int64 sums; everything else is integer).

    100 TB shape: encode+decode+features are pure map work (two
    mapInPandas stages, zero shuffle); a real corpus scans stored WAVs
    via binaryFile (a21)."""
    docs = table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 2)
    return multimodal.audio_features(multimodal.attach_wav(docs))


# --- j36: REAL uncompressed-AVI video decode + frame-sampled statistics --------------
@register(
    "j36",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE octet_length(encode(text)) >= 12
    ),
    px AS (
      SELECT doc_id, (i - 1) % 3 AS chan, (i - 1) // 3 AS t,
             (n_bytes // 3) // 4 AS n_frames,
             ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS v
      FROM (
        SELECT doc_id, hx, n_bytes,
               unnest(range(1, (n_bytes // 3) * 3 + 1)) AS i
        FROM b
      )
    ),
    sel AS (
      SELECT * FROM px
      WHERE t < 4 * n_frames AND (t // 4) % 2 = 0
    )
    SELECT doc_id AS media_id,
           CAST(max(n_frames) AS BIGINT)           AS n_frames,
           CAST((max(n_frames) + 1) // 2 AS BIGINT) AS n_sampled,
           CAST(count(*) // 3 AS BIGINT)           AS n_px,
           sum(v) FILTER (chan = 0) / (count(*) // 3) AS mean_r,
           sum(v) FILTER (chan = 1) / (count(*) // 3) AS mean_g,
           sum(v) FILTER (chan = 2) / (count(*) // 3) AS mean_b,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 0)
              - sum(v) FILTER (chan = 0) * sum(v) FILTER (chan = 0))
             / ((count(*) // 3) * (count(*) // 3))     AS var_r,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 1)
              - sum(v) FILTER (chan = 1) * sum(v) FILTER (chan = 1))
             / ((count(*) // 3) * (count(*) // 3))     AS var_g,
           ((count(*) // 3) * sum(v * v) FILTER (chan = 2)
              - sum(v) FILTER (chan = 2) * sum(v) FILTER (chan = 2))
             / ((count(*) // 3) * (count(*) // 3))     AS var_b
    FROM sel GROUP BY doc_id
    """,
)
def j36_video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling — the multimodal tier's fourth
    modality: payloads are genuine uncompressed AVI files
    (operators/avi.py: RIFF walk, avih/strh/strf headers, BI_RGB '00db'
    frame chunks) staged from the text bytes as 2x2 RGB frames, then
    decoded and reduced to channel statistics over EVERY SECOND frame —
    the canonical cheap treatment of video in a training-data pipeline
    (decode, keep every n-th frame, featurize the kept frames). Raw
    BI_RGB frames are lossless, so exactness needs no staging trick, but
    the container's DIB quirks (bottom-up row order, BGR byte swap,
    4-byte row stride) must all be decoded faithfully: any of them wrong
    scrambles pixels and breaks the hash against the byte-level oracle,
    which reconstructs the sampled frames' pixels straight off the text.

    100 TB shape: encode+decode+sample+stats are pure map work (two
    mapInPandas stages, zero shuffle; plan-asserted); a real corpus scans
    stored AVIs via binaryFile (a21) and the sampling ratio is the knob
    that trades feature fidelity for decode cost."""
    docs = table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 12)
    return multimodal.video_frame_stats(multimodal.attach_avi(docs), every_n=2)


# --- j37: exact cosine-threshold near-dup pair join (semantic dedup shape) -----------
@register(
    "j37",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             [CAST(embedding[1] AS DOUBLE) + 0.05] || CAST(embedding[2:] AS DOUBLE[])
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
    FROM base a JOIN base b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.99
    """,
)
def j37_cosine_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine NEAR-DUP pairs — the epsilon-neighborhood
    similarity join (ALL pairs with cos >= 0.99), the semantic-dedup
    primitive the MinHash/SimHash tier (j2/j11) provides for lexical
    near-dups. The corpus is the embeddings table plus one deterministic
    perturbed copy per vector (+0.05 on the first coordinate, id offset
    1e6) — the staged-payload pattern of the codec keys (j32-j36): the
    synthetic vectors are near-orthogonal (max natural cosine 0.60 at
    sf0.1), so the planted twins are what a near-dup-bearing corpus looks
    like, and the staging is declared identically in both engines.

    Routed through operators/similarity.threshold_pair_join: IVF cell
    assignment, then a provably lossless CELL-PAIR bound (triangle
    inequality on unit-sphere chords; see the operator docstring) prunes
    the n_cells^2 pair space down to near the diagonal before any
    corpus-scale join runs; survivors re-score with the exact rounded
    cosine. Oracle = brute-force all-pairs, so a green hash proves
    pruned == brute force exactly. tests/test_threshold_pairs.py
    property-checks the operator against numpy brute force on clustered
    data and asserts the pruning actually bites (cell pairs kept <<
    n_cells^2) and that no corpus-scale cartesian appears in the plan.

    100 TB shape: corpus-side movement is one equi-join per side keyed on
    cell_id (bounded key space, AQE skew-split); the only nested-loop is
    the n_cells^2 centroid-pair bound, which is broadcast-tiny. Plan
    construction schedules zero jobs (n_cells from the parquet footer,
    j31's fix; centroids LAZY-persisted).
    """
    from scopus_spark.catalog import row_count_estimate

    # r10: spread_scan — assignment + grid projections are per-row HOFs
    e = spread_scan(spark, sf_dir, "embeddings")
    emb_d = similarity.as_double("embedding")
    orig = e.select("vec_id", "label", emb_d.alias("embedding"))
    pert = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at(emb_d, 1) + F.lit(0.05)),
            F.slice(emb_d, 2, F.size(emb_d) - 1),
        ).alias("embedding"),
    )
    base = similarity.prepare_vectors(orig.unionByName(pert))
    # r10: no IVF fit / cell assignment at all — threshold_pair_join's
    # enumeration is keyed on the projection grid (which subsumes the
    # cell pairing; see the operator docstring) and its verify is the
    # exact cosine, so the Lloyd fit + interpreted per-row assignment
    # were computed-then-pruned work. Output is oracle-identical.
    _ = row_count_estimate
    return similarity.threshold_pair_join(base, tau=0.99)


# --- j38: bigram language-model perplexity scoring (statistical quality filter) ------
@register(
    "j38",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)
    ),
    bc AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(c_bg) AS c_ctx FROM bc GROUP BY w1),
    v AS (SELECT count(DISTINCT tok) AS vocab
          FROM (SELECT unnest(w) AS tok FROM toks)),
    scored AS (
      SELECT bg.doc_id,
             -ln((bc.c_bg + 1.0) / (ctx.c_ctx + v.vocab)) AS nll
      FROM bg JOIN bc USING (w1, w2) JOIN ctx USING (w1), v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def j38_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity scoring — the statistical quality
    filter tier above j14's surface heuristics: train a Laplace-smoothed
    bigram LM on the corpus itself (the C4/CCNet-style wellformedness
    proxy), then score every document by its mean negative log-likelihood
    under that model. High avg_nll = improbable word sequences = boilerplate
    / garble candidates for the quality cut (d24 picks the percentile).

    Train and score are ONE pass each over the exploded bigram relation:
    counts are two hash aggregates (map-side partials), scoring joins each
    document bigram back to its count — shuffle keys are vocabulary terms,
    whose cardinality is corpus-bounded (Zipf), with AQE skew-split
    handling stopword-heavy keys; the vocab size rides along as a 1-row
    broadcast. Per-bigram NLL is identical-double arithmetic in both
    engines (same integer counts, same ops); only the per-doc MEAN is
    order-dependent, so it rounds to 4dp (C3 inexact rule).

    At 100 TB the model tables are exactly the reusable artifact a real
    pipeline persists: score a NEW batch by broadcast-joining the stored
    counts — no retrain, the j25/j28 incremental pattern.
    """
    d = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select("doc_id", w.alias("w"))
    # sequence(1, size-1) would run DESCENDING for 1-token docs; gate it.
    idx = F.when(
        F.size("w") >= 2, F.sequence(F.lit(1), F.size("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("w"), i).alias("w1"),
                    F.element_at(F.col("w"), i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bc.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    vocab = toks.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    nll = -F.log((F.col("c_bg") + F.lit(1.0)) / (F.col("c_ctx") + F.col("vocab")))
    return (
        bg.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
        )
    )


# --- j39: winnowing fingerprints (rolling-hash document sketch) ----------------------
@register(
    "j39",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                            i -> md5(substr(text, CAST(i AS INT), 5))) AS grams
      FROM documents WHERE length(text) >= 8
    ),
    w AS (
      SELECT doc_id, grams, unnest(range(1, len(grams) - 4 + 2)) AS i
      FROM g
    ),
    sel AS (
      SELECT doc_id,
             CAST(i - 1 + (4 + 1 - list_position(
                    list_reverse(grams[CAST(i AS INT):CAST(i AS INT) + 3]),
                    list_min(grams[CAST(i AS INT):CAST(i AS INT) + 3])))
                  AS BIGINT) AS pos,
             list_min(grams[CAST(i AS INT):CAST(i AS INT) + 3]) AS fp
      FROM w
    )
    SELECT DISTINCT doc_id, pos, fp FROM sel
    """,
)
def j39_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm) — the rolling-hash document sketch with a POSITIONAL
    guarantee the j16 min-hash sketch lacks: every shared substring of
    length >= w + k - 1 (here 8) between two documents is certain to
    share at least one selected fingerprint, because each window of w
    consecutive char-5-gram hashes selects its minimum (rightmost on
    ties — the deterministic simplification of the paper's
    same-as-left-window preference), and selections repeated by
    overlapping windows collapse via DISTINCT. Downstream, fingerprints
    bucket-join exactly like LSH bands (j9): shared (pos-free) fp values
    are near-dup/plagiarism candidates with a guarantee, not a
    probability.

    Map-side only until the final DISTINCT: gram hashing and per-window
    argmin are array expressions over each document row (no explode of
    the gram relation — the w-sized windows never leave the row), and
    the one shuffle is the dedup on (doc_id, pos, fp). Both engines
    compare md5 hex strings lexicographically, so min and tie-break
    agree exactly.

    Round 7: computed via operators/text.winnow_fingerprints_df — gram
    positions posexplode to rows, the hash is one codegen'd
    md5(substring), and each window's (min, rightmost-pos) is a frame
    aggregate min(struct(fp, -pos)) — replacing the interpreted per-row
    array lambdas that cost O(chars * w) slice/array_min/reverse work
    per document (measured 86 s -> ~5 s at sf0.1, output bit-identical;
    the round-6 repartition(32) workaround became unnecessary because
    exploded gram rows parallelize naturally).
    """
    from scopus_spark.operators.text import winnow_fingerprints_df

    # r10: spread_scan — per-row char-5-gram md5 chain + per-window
    # argmin array exprs off the 1-split scan (guide §2.5)
    d = spread_scan(spark, sf_dir, "documents").filter(
        F.length("text") >= 8
    )
    return winnow_fingerprints_df(d)


# --- j40: exact duplicate n-gram span coverage (substring-level dedup) ----------------
@register(
    "j40",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(range(1, greatest(n_tokens - 3, 1))) AS start,
             unnest(list_transform(range(1, greatest(n_tokens - 3, 1)),
                    i -> md5(array_to_string(w[i : i + 4], chr(31))))) AS h
      FROM base
      WHERE n_tokens >= 5
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    pos AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id, unnest(range(g.start, g.start + 5)) AS p
        FROM grams g JOIN dup USING (h)
      )
    ),
    cov AS (
      SELECT doc_id, count(*) AS dup_tokens FROM pos GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
             AS dup_frac
    FROM base b LEFT JOIN cov USING (doc_id)
    """,
)
def j40_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring coverage (the span-level dedup tier of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") — for every document, the fraction of token POSITIONS that
    sit inside at least one word 5-gram appearing verbatim in some OTHER
    document. This is the metric the suffix-array ExactSubstr pass
    computes; relationally the same answer falls out of a gram-hash
    equi-group: any cross-doc repeated substring of >= 5 tokens is a run
    of cross-doc repeated 5-grams, so the union of duplicated-gram spans
    IS the duplicated-substring coverage (granularity 5 — spans shorter
    than the gram width are invisible by design, exactly as ExactSubstr's
    minimum match length). Complements j1 (whole-doc exact), j2/j9
    (whole-doc near-dup) and j39 (fingerprint sketch): those say WHICH
    docs overlap; j40 says HOW MUCH of each doc is boilerplate, the
    number a training-data pipeline thresholds on before dropping or
    trimming documents.

    Scale: gram building is map-side array work (transform over the
    token array — the gram relation explodes only into the groupBy);
    the one corpus-scale shuffle is the gram-hash agg, whose key space
    is bounded and uniform (md5) so no skew; duplicated hashes are a
    small set joined back on the same uniform key; position coverage
    re-aggregates per doc_id. No window, no sort, no driver action —
    at 100 TB this is exactly 3 hash shuffles, and the gram agg's
    map-side partial collapses within-doc repeats before the wire.
    md5 grams (never murmur) keep the DuckDB oracle bit-identical.
    """
    n = 5
    # r10: spread_scan — per-row word-4-gram md5 explode off the
    # 1-split scan (guide §2.5)
    d = spread_scan(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    grams = (
        base.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.md5(F.concat_ws("\x1f", F.slice("w", i, n))).alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.h").alias("h"))
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    cov = (
        grams.join(dup, "h")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
    )


# --- j42: BM25 ranked retrieval over the document corpus ------------------------------
_BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "j42",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    tfp AS (
      SELECT doc_id, dl,
             count(*) FILTER (token = 'spark')  AS tf_spark,
             count(*) FILTER (token = 'join')   AS tf_join,
             count(*) FILTER (token = 'window') AS tf_window
      FROM toks
      WHERE token IN ('spark', 'join', 'window')
      GROUP BY doc_id, dl
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
      FROM documents
    ),
    dfs AS (
      SELECT count(*) FILTER (tf_spark  > 0) AS df_spark,
             count(*) FILTER (tf_join   > 0) AS df_join,
             count(*) FILTER (tf_window > 0) AS df_window
      FROM tfp
    )
    SELECT t.doc_id,
           CAST((t.tf_spark > 0)::INT + (t.tf_join > 0)::INT
                + (t.tf_window > 0)::INT AS INT) AS n_hits,
           round(
             (CASE WHEN t.tf_spark > 0 THEN
                ln(1 + (s.n_docs - d.df_spark + 0.5) / (d.df_spark + 0.5))
                * t.tf_spark * ({_BM25_K1} + 1)
                / (t.tf_spark + {_BM25_K1}
                   * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))
              ELSE 0.0 END)
             + (CASE WHEN t.tf_join > 0 THEN
                ln(1 + (s.n_docs - d.df_join + 0.5) / (d.df_join + 0.5))
                * t.tf_join * ({_BM25_K1} + 1)
                / (t.tf_join + {_BM25_K1}
                   * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))
              ELSE 0.0 END)
             + (CASE WHEN t.tf_window > 0 THEN
                ln(1 + (s.n_docs - d.df_window + 0.5) / (d.df_window + 0.5))
                * t.tf_window * ({_BM25_K1} + 1)
                / (t.tf_window + {_BM25_K1}
                   * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl))
              ELSE 0.0 END), 4) AS bm25
    FROM tfp t, stats s, dfs d
    """,
)
def j42_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones, the Lucene-default
    scoring used by every search-backed RAG pipeline): score each document
    against the fixed 3-term query via the Okapi formula — Lucene's
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation k1=1.2, length
    normalization b=0.75. The query terms PIVOT into fixed columns (one
    conditional-count agg), so the per-doc score is a FIXED-ORDER 3-term
    sum — no order-dependent double reduction anywhere; the only cross-
    engine wobble is ln's last ulp, absorbed by the j38 4dp convention.
    avgdl is exact-integer sum(dl)/N, never a float avg() (whose partial-
    aggregation order differs per engine).

    Scale: the token explode filters to the query vocabulary BEFORE its
    one shuffle (grouping only docs that contain a hit — at 100 TB the
    filter drops ~everything at the scan); corpus stats (N, sum dl) and
    document frequencies are two 1-row aggs broadcast into the score
    projection. Production shape: persist per-term postings (doc_id, tf)
    partitioned by term — this query IS the probe plan over them.
    Complements j5 (TF-IDF weights) and j38 (LM quality): j42 is the
    query-time RANKER."""
    k1, b = _BM25_K1, _BM25_B
    terms = _BM25_TERMS
    d = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select(
        "doc_id", F.size(w).alias("dl"), F.explode(w).alias("token")
    ).filter(F.col("token").isin(*terms))
    tfp = toks.groupBy("doc_id", "dl").agg(
        *[
            F.count(F.when(F.col("token") == t, 1)).alias(f"tf_{t}")
            for t in terms
        ]
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(w)).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfs = tfp.agg(
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in terms
        ]
    )

    def _term_score(t: str):
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        sat = (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        return F.when(tf > 0, idf * sat).otherwise(F.lit(0.0))

    scored = tfp.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))
    n_hits = sum(
        (F.col(f"tf_{t}") > 0).cast("int") for t in terms
    )
    return scored.select(
        "doc_id",
        n_hits.cast("int").alias("n_hits"),
        F.round(
            _term_score(terms[0]) + _term_score(terms[1]) + _term_score(terms[2]), 4
        ).alias("bm25"),
    )


# --- j43: semantic dedup end-to-end (SemDeDup: cluster near-dups, keep one) -----------
@register(
    "j43",
    oracle="""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label,
             [CAST(embedding[1] AS DOUBLE) + 0.05] || CAST(embedding[2:] AS DOUBLE[])
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM base a JOIN base b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.99
    ),
    edges AS MATERIALIZED (
      SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT node, min(src) AS comp_id FROM reach GROUP BY node),
    lab AS (
      SELECT base.vec_id, base.label,
             coalesce(c.comp_id, base.vec_id) AS cluster_id
      FROM base LEFT JOIN comp c ON base.vec_id = c.node
    )
    SELECT vec_id, label, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           vec_id = min(vec_id) OVER (PARTITION BY cluster_id) AS is_kept
    FROM lab
    """,
)
def j43_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup END TO END (the SemDeDup recipe, Abbas et al. 2023):
    epsilon-neighborhood cosine pairs (j37's provably-lossless IVF
    cell-pair pruning, tau=0.99 on the twin-planted corpus) → transitive
    closure into near-dup CLUSTERS (the shared min-label CC operator —
    A~B, B~C must dedup together even when A!~C drifted past the
    threshold) → ONE kept representative per cluster (min vec_id —
    deterministic, engine-independent), with cluster sizes as the audit
    column a dedup run reports before dropping anything. This is the
    embedding-space sibling of the lexical j9→n2→n7 chain, and the last
    composition the LLM-dedup tier was missing: j37 finds PAIRS, j43
    decides which ROWS survive.

    Scale: pair generation is j37's bounded cell-pair join (no corpus
    cartesian, plan-asserted there); CC shuffles only the near-dup EDGE
    LIST (tiny vs corpus — near-dup graphs are sparse by construction)
    for O(log diameter) rounds; the final labeling is one broadcast-able
    left join back to the corpus plus ONE window per cluster_id. Isolated
    vectors never enter the closure — they label themselves via
    coalesce, so the 99%-unique bulk of a real corpus pays only the scan
    and the cell join."""
    from scopus_spark.catalog import row_count_estimate
    from scopus_spark.operators.graph import connected_components

    # r10: spread_scan — assignment + grid projections are per-row HOFs
    e = spread_scan(spark, sf_dir, "embeddings")
    emb_d = similarity.as_double("embedding")
    orig = e.select("vec_id", "label", emb_d.alias("embedding"))
    pert = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at(emb_d, 1) + F.lit(0.05)),
            F.slice(emb_d, 2, F.size(emb_d) - 1),
        ).alias("embedding"),
    )
    corpus = orig.unionByName(pert)
    base = similarity.prepare_vectors(corpus)
    # r10: no IVF fit / cell assignment — the j37 rationale (grid-keyed
    # enumeration + exact verify make the fit computed-then-pruned work)
    _ = row_count_estimate
    pairs = similarity.threshold_pair_join(base, tau=0.99)

    comp = connected_components(
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )
    lab = (
        corpus.select("vec_id", "label")
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("comp_id"), F.col("vec_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "vec_id",
        "label",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("is_kept"),
    )


# --- j44: asymmetric containment near-dup pairs (partial-copy detection) -------------
@register(
    "j44",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
               AS shingle
      FROM toks
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY src_doc, dst_doc
    )
    SELECT p.src_doc, p.dst_doc,
           round(p.n_inter / sa.n_sh, 6) AS containment
    FROM pair_inter p JOIN sizes sa ON p.src_doc = sa.doc_id
    WHERE p.n_inter / sa.n_sh >= 0.8
    """,
)
def j44_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment near-dup pairs: C(A->B) = |A∩B|/|A| >= 0.8
    over word-3-gram shingles — the partial-copy tier j2's symmetric
    Jaccard structurally misses (a short doc embedded in a long one has
    Jaccard ~ |A|/|B| but containment 1.0), and the direction names the
    subsumed (drop-candidate) side. Candidates via the asymmetric
    prefix-filter adaptation in operators/dedup.containment_pairs — src
    prefix joined against full dst postings, provably zero false
    negatives, verified by exact intersection over the sorted shingle
    arrays. The oracle recomputes every pair by brute-force shingle
    self-join; at sf0.01 both sides agree pair-for-pair at 6dp."""
    # r10: spread_scan — the shingle explode + rarity sort + verify
    # intersections are per-row-heavy map work off the 1-split scan
    # (guide §2.5; same fix as j2/j9/j25)
    d = spread_scan(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, threshold=0.8)


# --- j45: PCA whitening of the embedding space (SemDeDup's preprocessing step) -----
@register("j45")  # no oracle: eigendecomposition is outside SQL's reach —
# tests/test_pca.py proves node-for-node parity with single-node numpy PCA
# (same sign/whitening conventions) plus the whitened-covariance ≈ I law.
def j45_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA WHITENING of the embeddings table — the preprocessing step the
    semantic-dedup literature applies before cosine thresholds (SemDeDup
    clusters in a normalized space; whitening removes the dominant-
    direction bias that makes raw cosine over-cluster around the corpus
    mean): project each vector onto the top-4 principal components,
    centered and scaled to unit variance per component.

    Distributed shape (operators/similarity.pca_whiten_params): the FIT
    is one mapInPandas stats pass emitting (idx, val) partial Gram rows
    — driver traffic O(d^2), corpus pays one scan; the eig is 64x64
    driver math. The PROJECTION here is pure JVM map work: each
    component is a broadcast-literal array folded with zip_with +
    aggregate — no Python, no shuffle, whole-stage-codegen friendly.
    Output rounds to 6dp (+0.0 normalizes signed zero) to stay on the
    hashable surface.

    CONSTRUCTION runs the one-pass fit (same adjudication as n12 /
    pagerank — data-dependent driver math); production persists the
    fitted (mean, W) like j28 persists its IVF centroids."""
    e = table(spark, sf_dir, "embeddings")
    mean, w, _eigvals, _n = similarity.pca_whiten_params(e, q=4)
    emb = similarity.as_double("embedding")
    cols = []
    for j in range(w.shape[1]):
        lit_w = F.array(*[F.lit(float(v)) for v in w[:, j]])
        dot = F.aggregate(
            F.zip_with(emb, lit_w, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        off = float(mean @ w[:, j])
        cols.append(
            (F.round(dot - F.lit(off), 6) + F.lit(0.0)).alias(f"pc{j + 1}")
        )
    return e.select("vec_id", "label", *cols)


# --- j46: BPE vocabulary induction over the corpus --------------------------------
@register("j46")  # no oracle: iterative argmax-and-merge is outside SQL's
# reach (data-dependent loop — same adjudication as n12/j45);
# tests/test_bpe.py proves the merge table EQUAL to a single-node
# reference implementation of Sennrich-style BPE, rule for rule.
def j46_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 12 BPE merge rules over the documents corpus
    (operators/text.learn_bpe) — the tokenizer-training step of an LLM
    data pipeline, distributed: one corpus-scale word count, then every
    iteration runs over the frequency-weighted word VOCABULARY (Zipf-
    bounded, millions of rows where the corpus is billions); pair counts
    are map-side-combinable aggs, merges apply as JVM left-folds, driver
    traffic is one row per round. Deterministic by construction: exact
    integer counts with (count DESC, pair ASC) tie-break."""
    d = table(spark, sf_dir, "documents")
    from scopus_spark.operators.text import learn_bpe

    return learn_bpe(d, "text", n_merges=12)


# --- j47: paragraph-granularity dedup (the C4 recipe step) ---------------------------
_J47_PAR_TOKENS = 20  # non-overlapping token windows = "paragraphs"


@register(
    "j47",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    pars AS (
      SELECT doc_id,
             unnest(range(CAST(ceil(len(tk) / {_J47_PAR_TOKENS}.0) AS BIGINT)))
               AS par_idx,
             unnest(list_transform(
               range(CAST(ceil(len(tk) / {_J47_PAR_TOKENS}.0) AS BIGINT)),
               i -> array_to_string(
                 tk[CAST(i * {_J47_PAR_TOKENS} + 1 AS BIGINT)
                    :CAST(i * {_J47_PAR_TOKENS} + {_J47_PAR_TOKENS} AS BIGINT)],
                 ' '))) AS par
      FROM toks
    ),
    ranked AS (
      SELECT doc_id, par_idx, par,
             row_number() OVER (PARTITION BY sha256(par)
                                ORDER BY doc_id, par_idx) AS rn
      FROM pars
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_pars,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed,
           sha256(coalesce(
             string_agg(par, ' ' ORDER BY par_idx) FILTER (WHERE rn = 1),
             '')) AS clean_sha
    FROM ranked
    GROUP BY doc_id
    """,
)
def j47_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, the C4 recipe: drop every paragraph seen
    earlier ANYWHERE in the corpus (global first occurrence wins — min
    (doc_id, position)), keep the host document, reassemble its
    remaining paragraphs in order. Whole-doc dedup (j1/j9) misses
    boilerplate repeated across distinct pages — license headers, nav
    footers — which is most of what paragraph dedup removes from web
    corpora. "Paragraphs" here are non-overlapping 20-token windows
    (the corpus is single-line bag-of-words; prose would split on
    double-newline with the same plan).

    Per doc: n_pars, n_removed (the audit trail), and sha256 of the
    reassembled clean text (keeps a corpus-sized string column off the
    hashable compare surface; a doc whose every paragraph is a dup
    reassembles to '' and still hashes).

    Scale (two bounded shuffles, no UDFs): tokenize + window = map-side
    explode; keep-first = one row_number over the 32-byte sha256(par)
    partition key (uniform distribution by construction — no skew,
    unlike raw-text keys); reassembly = one groupBy(doc_id) whose
    array_sort(collect_list(struct)) is deterministic where a bare
    collect_list is not. Idempotence (re-running on the cleaned corpus
    removes nothing) is property-tested in tests/test_paragraph_dedup.py.
    """
    d = table(spark, sf_dir, "documents")
    clean = dedup.paragraph_dedup(d, par_tokens=_J47_PAR_TOKENS)
    return clean.select(
        "doc_id",
        "n_pars",
        "n_removed",
        F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
    )


# --- j48: product-quantization ANN with exact re-rank (IVF-PQ's memory tier) ---------
@register("j48")  # no oracle: k-means codebook fitting is an iterative
# data-dependent loop outside SQL's reach (the n12/j45/j46 adjudication);
# tests/test_pq.py pins recall@10 >= 0.8 against j3's exact anchor and
# proves rerank >= corpus degenerates to EXACTLY the brute-force top-k.
def j48_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-10 for the j3 anchor query (vec_id 0), exact
    cosine re-rank of the PQ top-64 (operators/similarity.pq_topk) — the
    memory rung of the similarity ladder between int8 scalar quantization
    (j41) and raw IVF (j17/j28/j31): vectors live as m=8 codebook codes
    (8 bytes vs 512 raw at dim 64), candidate scoring is m lookup-table
    adds folded JVM-side from a broadcast-literal m x kc ADC table, and
    only the 64 re-rank candidates ever touch raw vectors. At 100 TB the
    codes table is what stays hot; codebooks broadcast (m*kc rows)."""
    # r10: spread_scan — every Lloyd round runs an interpreted per-
    # subvector argmin over the broadcast codebook (guide §2.5)
    e = spread_scan(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        e, query_vec_id=0, k=10, m=8, kc=16, iters=4, rerank=64
    )


# --- j49: NN-Descent approximate k-NN graph ------------------------------------------
def _nn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NN-Descent graph j49 returns and j53 searches (same params),
    built fresh on every call. Its descent rounds are cut, so a second
    reader re-runs only the final top-k window over the last round."""
    from scopus_spark.catalog import row_count_estimate

    # r10: spread_scan — descent scoring/init fan out from this scan
    e = spread_scan(spark, sf_dir, "embeddings")
    n = row_count_estimate(sf_dir, "embeddings")
    return similarity.nn_descent(
        e, k=10, rounds=3, n_cells=similarity.auto_n_cells(n), n_rows=n
    )


@register("j49")  # approximate by design: recall pinned in tests/test_nn_descent.py
def j49_nn_descent_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-NN GRAPH of the whole embeddings table via NN-Descent
    (operators/similarity.nn_descent, Dong et al. 2011) — the graph-
    based ANN rung between IVF probing (j17/j28/j31) and quantization
    (j41/j48): instead of answering one query, it materializes every
    vector's approximate top-10, which is the input SemDeDup-style
    clustering and graph-ANN serving consume. Deterministic (IVF-cell
    init, closed 2-hop candidate sets, rounded-cosine + id total order),
    so no oracle is omitted for nondeterminism — it is omitted because
    the algorithm is approximate: recall@10 >= 0.9 vs the EXACT
    brute-force-equal k-NN join is pinned by tests/test_nn_descent.py,
    and the rows/schema tier checks execution. O(n·k²) candidate volume
    per round vs the exact join's ~n²/cells — the at-scale trade."""
    return _nn_graph(spark, sf_dir)


# --- j50: BPE tokenization of the corpus with the learned vocabulary -----------------
@register("j50")  # BPE encode is not SQL-expressible; parity vs a pure-python
# reference encoder is pinned in tests/test_bpe.py
def j50_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZE the corpus with the j46-learned BPE vocabulary
    (operators/text.bpe_encode) — the inference half of the tokenizer
    story j46 trains: merge rules apply in rank order via the SAME
    apply_merge fold learn_bpe used (shared helper — training and
    encoding provably agree on greedy left-to-right non-overlapping
    semantics). Encoding runs over the distinct WORD VOCABULARY and
    joins token arrays back to the word stream (the Zipf argument at
    inference time: each distinct word encodes once no matter how often
    it occurs). Emits the corpus token histogram plus subword fan-out —
    the artifact a tokenizer rollout reviews before committing a vocab.
    Deterministic end-to-end (exact counts, pinned tie-breaks), checked
    at the rows/schema tier; token-level parity vs a pure-python
    reference encoder is pinned in tests/test_bpe.py."""
    from scopus_spark.operators.text import bpe_encode, learn_bpe

    d = table(spark, sf_dir, "documents")
    merges = learn_bpe(d, "text", n_merges=12)
    enc = bpe_encode(d, merges, "text")
    return (
        enc.select(
            "doc_id", F.explode(F.col("tokens")).alias("token")
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


# --- j51: perceptual dHash over decoded images ----------------------------------------
@register(
    "j51",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 3 AS n
      FROM documents WHERE octet_length(encode(text)) >= 3
    ),
    samp AS (
      SELECT doc_id, n, i, (i * n) // 61 AS p
      FROM (SELECT doc_id, hx, n, unnest(range(0, 61)) AS i FROM b)
      JOIN b USING (doc_id, hx, n)
    ),
    luma AS (
      SELECT s.doc_id, s.n, s.i,
             (299 * ('0x' || substr(b.hx, 2 * (3 * s.p) + 1, 2))::BIGINT
              + 587 * ('0x' || substr(b.hx, 2 * (3 * s.p + 1) + 1, 2))::BIGINT
              + 114 * ('0x' || substr(b.hx, 2 * (3 * s.p + 2) + 1, 2))::BIGINT
             ) // 1000 AS l
      FROM samp s JOIN b ON s.doc_id = b.doc_id
    ),
    bits AS (
      SELECT doc_id, n, i, l,
             lead(l) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
      FROM luma
    )
    SELECT doc_id AS media_id,
           CAST(max(n) AS BIGINT) AS n_pixels,
           CAST(sum(CASE WHEN l < nxt THEN (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS dhash
    FROM bits WHERE i < 60
    GROUP BY doc_id
    """,
)
def j51_perceptual_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL IMAGE HASHING through the hash gate — the image-dedup
    fingerprint (dHash) computed by the REAL multimodal path (raw-RGB
    decode -> numpy luma -> nearest-neighbor 61-point resize -> 60
    difference bits packed into int64, operators/multimodal.
    perceptual_dhash) while the oracle recomputes the identical hash
    BYTE-BY-BYTE in SQL (hex-pair decode, integer luma, integer-division
    point sampling, shifted-bit sum). Every step is exact integer
    arithmetic, so a green hash proves the whole decode->resize->hash
    pipeline, not a statistical summary of it. Near-dup pairing over
    these hashes is the j11 SimHash band machinery verbatim (15-bit
    bands, hamming<=r) — the fingerprint is the new part, declared here.

    100 TB shape: pure Arrow-batch map work over the media table; no
    shuffle until the (tiny) hash table bands."""
    media = multimodal.attach_raw_rgb(
        table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 3)
    )
    return multimodal.perceptual_dhash(media, bits=60)


# --- j52: duplicate-SPAN removal (Lee et al. ExactSubstr as a transform) --------------
@register(
    "j52",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(range(1, greatest(n_tokens - 3, 1))) AS s,
             unnest(list_transform(range(1, greatest(n_tokens - 3, 1)),
                    i -> md5(array_to_string(w[i : i + 4], chr(31))))) AS h
      FROM base
      WHERE n_tokens >= 5
    ),
    occ AS (
      SELECT doc_id, s,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
      FROM grams
    ),
    rem AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(s, s + 5)) AS p FROM occ WHERE rn > 1
      )
    ),
    agg AS (
      SELECT doc_id, list(p ORDER BY p) AS ps,
             count(*) AS n_removed
      FROM rem GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
           sha256(coalesce(array_to_string(
             list_transform(
               list_filter(range(1, b.n_tokens + 1),
                           i -> NOT list_contains(coalesce(a.ps, []), i)),
               i -> w[i]),
             ' '), '')) AS clean_sha
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def j52_duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN REMOVAL — j40's detection turned into the Lee et
    al. 2022 ExactSubstr transform (operators/dedup.substring_dedup):
    every word 5-gram span that appeared verbatim earlier in the corpus
    (first occurrence = min (doc_id, start) over the md5 gram hash) is
    CUT from the later document; the first occurrence and the rest of
    the host document survive, and the doc reassembles from the
    surviving token positions in order. This is the tier real corpus
    preps run between paragraph dedup (j47) and whole-doc dedup (j1):
    it removes boilerplate at exactly its extent instead of dropping
    the paragraph or document around it.

    Emits per doc: n_tokens, n_removed (the audit count the pipeline
    thresholds on) and sha256 of the reassembled clean text (keeps the
    corpus-sized string column off the hashable compare surface, as
    j47). The oracle recomputes the identical first-occurrence rule
    relationally, so the hash gate proves the cut-and-reassemble, not
    just the span metric. Idempotence (re-running the transform on its
    own output removes nothing) is property-tested in
    tests/test_substring_dedup.py.

    Scale: one corpus-wide shuffle (uniform md5 gram key, map-side
    partials collapse within-doc repeats); everything after the
    >=2-occurrence filter is delta-sized; reassembly is MAP-SIDE
    (array_except on positions) — the token stream never shuffles.
    """
    d = table(spark, sf_dir, "documents")
    out = dedup.substring_dedup(d, n=5)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
    )


# --- j53: beam search over the NN-Descent k-NN graph ----------------------------------
@register("j53")  # approximate by design (the j48/j49 adjudication): recall
# vs the exact top-k is pinned in tests/test_graph_search.py, and
# beam >= corpus provably degenerates to brute force (same test file).
def j53_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH the j49 k-NN graph — the query half NN-Descent was built
    for: approximate top-10 for the j3 anchor query (vec_id 0) by
    HNSW-style beam expansion from a deterministic entry set. Round 9
    (VERDICT r8 item 3): the graph is PERSISTED symmetrized + bucketed
    at build time (operators/similarity.build_search_graph — the
    union/distinct shuffle paid once), and the query runs against the
    stored layout (graph_beam_search_stored): each hop's frontier
    (<= beam ids, a bounded collect) probes only its buckets'
    partition directories with a pushed src filter — a pruned scan +
    project, NO corpus-scale Exchange anywhere in the query path
    (plan-asserted in tests/test_graph_search.py). Results are
    IDENTICAL to the in-memory search over the same graph (same
    symmetrized edges, entry set, rounded cosine + id tie-breaks;
    equality-tested). Closes the ANN ladder's last rung: IVF probes
    geometry (j17/j28/j31), int8/PQ shrink memory (j41/j48), the graph
    walk buys query latency independent of corpus size. Declared at
    the rows/schema tier because the answer is approximate, with
    recall@10 >= 0.9 vs exact brute force pinned in
    tests/test_graph_search.py."""
    import shutil

    e = table(spark, sf_dir, "embeddings")
    g = _nn_graph(spark, sf_dir)
    path = stage_dir(sf_dir, "j53_graph")
    shutil.rmtree(path, ignore_errors=True)
    similarity.build_search_graph(g, path, n_buckets=16)
    return similarity.graph_beam_search_stored(
        e, path, query_vec_id=0, k=10, beam=16, hops=3, n_buckets=16
    )


# --- j54: perceptual audio fingerprint over decoded PCM -------------------------------
@register(
    "j54",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE octet_length(encode(text)) >= 2
    ),
    s AS (
      SELECT doc_id, i,
             ('0x' || substr(hx, 4 * i - 3, 2))::BIGINT
             + 256 * ('0x' || substr(hx, 4 * i - 1, 2))::BIGINT AS u
      FROM (
        SELECT doc_id, hx, unnest(range(1, n_bytes // 2 + 1)) AS i FROM b
      )
    ),
    v AS (
      SELECT doc_id, i,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
      FROM s
    ),
    en AS (
      SELECT v.doc_id, (i - 1) // 64 AS f, ((i - 1) % 64) // 16 AS band,
             sum(v.v * v.v) AS e
      FROM v JOIN b ON v.doc_id = b.doc_id
      WHERE (i - 1) // 64 < (b.n_bytes // 2) // 64
      GROUP BY v.doc_id, (i - 1) // 64, ((i - 1) % 64) // 16
    ),
    d AS (
      SELECT doc_id, f, band, e,
             lag(e) OVER (PARTITION BY doc_id, band ORDER BY f) AS pe
      FROM en
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN pe IS NOT NULL AND f <= 15 AND e > pe
                      THEN (CAST(1 AS BIGINT) << ((f - 1) * 4 + band))
                      ELSE CAST(0 AS BIGINT) END) AS fp
      FROM d GROUP BY doc_id
    )
    SELECT b.doc_id AS media_id,
           CAST((b.n_bytes // 2) // 64 AS BIGINT) AS n_frames,
           CAST(coalesce(fp.fp, 0) AS BIGINT) AS fp
    FROM b LEFT JOIN fp ON b.doc_id = fp.doc_id
    """,
)
def j54_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL AUDIO FINGERPRINTING through the hash gate — the j51
    sibling for the audio modality (operators/multimodal.
    audio_fingerprint): the j35 WAV tier's decoded int16 PCM framed
    into 64-sample frames, 4 exact-int64 band energies per frame
    (Haitsma–Kalker 2002's energy-band skeleton with integer sums
    instead of a float filterbank), and one bit per (frame delta,
    band) — set iff the band's energy ROSE — packed into a 60-bit
    int64. Every step is integer arithmetic, so the DuckDB oracle
    reconstructs the identical fingerprint from the staged bytes
    (hex-pair int16 decode, integer frame/band bucketing, shifted-bit
    sum) and a green hash proves the container parse -> PCM decode ->
    frame -> energy -> sign-delta loop bit-for-bit. Near-dup audio
    pairing over fp is the j11 hamming-band machinery verbatim — the
    fingerprint is the new part, declared here.

    100 TB shape: pure Arrow-batch map work (encode -> decode ->
    fingerprint, two mapInPandas stages, zero shuffle)."""
    docs = table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 2)
    return multimodal.audio_fingerprint(multimodal.attach_wav(docs))


# --- j55: eval-set decontamination (n-gram overlap audit) -----------------------------
@register(
    "j55",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS nt
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(nt - 6, 1)),
                    i -> md5(array_to_string(w[i : i + 7], chr(31))))) AS h
      FROM base WHERE nt >= 8
    ),
    train AS (SELECT DISTINCT doc_id, h FROM g WHERE doc_id % 7 != 3),
    bench AS (SELECT DISTINCT doc_id AS bench_id, h FROM g WHERE doc_id % 7 = 3),
    tg AS (
      SELECT doc_id, count(DISTINCT h) AS n_grams
      FROM train GROUP BY doc_id
    ),
    hits AS (
      SELECT t.doc_id,
             count(DISTINCT t.h) AS n_shared_grams,
             count(DISTINCT b.bench_id) AS n_bench_docs
      FROM train t JOIN bench b USING (h)
      GROUP BY t.doc_id
    )
    SELECT h.doc_id,
           CAST(tg.n_grams AS BIGINT) AS n_grams,
           CAST(h.n_shared_grams AS BIGINT) AS n_shared_grams,
           CAST(h.n_bench_docs AS BIGINT) AS n_bench_docs,
           round(CAST(h.n_shared_grams AS DOUBLE) / tg.n_grams, 6) + 0.0
             AS share_frac
    FROM hits h JOIN tg USING (doc_id)
    """,
)
def j55_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-SET DECONTAMINATION audit (the GPT-3 appendix-C recipe, Brown
    et al. 2020: flag training documents sharing long n-grams with the
    benchmark): the corpus splits into a deterministic "benchmark" slice
    (doc_id % 7 == 3) and the training remainder; any train document
    sharing >= 1 word 8-gram with any benchmark document is reported
    with its distinct shared-gram count, how many benchmark docs it
    collides with, and the shared fraction of its gram vocabulary — the
    numbers a pipeline thresholds on before dropping or quarantining
    docs ahead of an eval release. Complements the dedup tier: j40/j52
    find repeats anywhere; this is the ASYMMETRIC overlap against a
    protected set.

    Scale: gram construction is map-side; the one corpus-scale shuffle
    is the train-gram distinct on the uniform md5 key. The benchmark
    side is eval-set-sized — thousands of docs against a 100 TB corpus
    — so its gram set BROADCASTS and the contamination join never
    shuffles the corpus again; both aggs run on hit rows only
    (delta-sized). md5 grams keep the oracle bit-identical."""
    n = 8
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("nt"),
    )
    grams = (
        base.filter(F.col("nt") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("nt") - (n - 1)),
                    lambda i: F.md5(F.concat_ws("\x1f", F.slice("w", i, n))),
                )
            ).alias("h"),
        )
    )
    train = grams.filter(F.col("doc_id") % 7 != 3).distinct()
    bench = (
        grams.filter(F.col("doc_id") % 7 == 3)
        .select(F.col("doc_id").alias("bench_id"), "h")
        .distinct()
    )
    tg = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    hits = (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )
    return hits.join(tg, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_shared_grams",
        "n_bench_docs",
        (
            F.round(
                F.col("n_shared_grams").cast("double") / F.col("n_grams"), 6
            )
            + F.lit(0.0)
        ).alias("share_frac"),
    )


# --- j56: within-doc repetition quality signals (the Gopher filter rules) -------------
_J56_PAR = 20  # paragraph = non-overlapping 20-token window (the j47 convention)


@register(
    "j56",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS nt
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(w) AS word FROM base
    ),
    wc AS (
      SELECT doc_id, max(c) AS top_w
      FROM (SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word)
      GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, nt),
                    i -> w[i] || chr(31) || w[i + 1])) AS bg
      FROM base WHERE nt >= 2
    ),
    bc AS (
      SELECT doc_id, max(c) AS top_b
      FROM (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    pars AS (
      SELECT doc_id,
             unnest(list_transform(
               range(CAST(ceil(nt / {_J56_PAR}.0) AS BIGINT)),
               i -> array_to_string(
                 w[CAST(i * {_J56_PAR} + 1 AS BIGINT)
                   :CAST(i * {_J56_PAR} + {_J56_PAR} AS BIGINT)], ' '))) AS par
      FROM base
    ),
    pc AS (
      SELECT doc_id, count(*) AS n_pars, count(DISTINCT par) AS n_unique
      FROM pars GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.nt AS INT) AS n_tokens,
           round(CAST(wc.top_w AS DOUBLE) / b.nt, 6) + 0.0 AS top_word_frac,
           round(CAST(coalesce(bc.top_b, 0) AS DOUBLE)
                 / greatest(b.nt - 1, 1), 6) + 0.0 AS top_bigram_frac,
           round(CAST(pc.n_pars - pc.n_unique AS DOUBLE) / pc.n_pars, 6) + 0.0
             AS dup_par_frac,
           (round(CAST(wc.top_w AS DOUBLE) / b.nt, 6) <= 0.2
            AND round(CAST(coalesce(bc.top_b, 0) AS DOUBLE)
                      / greatest(b.nt - 1, 1), 6) <= 0.18
            AND round(CAST(pc.n_pars - pc.n_unique AS DOUBLE)
                      / pc.n_pars, 6) <= 0.3) AS keep
    FROM base b
    JOIN wc USING (doc_id)
    LEFT JOIN bc USING (doc_id)
    JOIN pc USING (doc_id)
    """,
)
def j56_repetition_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-DOCUMENT repetition signals — the Gopher quality-filter
    rules (Rae et al. 2021, App. A1: drop docs whose most frequent
    word/n-gram or duplicated paragraphs dominate): per doc, the
    fraction of tokens taken by the single most frequent word, by the
    most frequent bigram, and the fraction of 20-token paragraphs that
    repeat within the doc, plus the keep/drop verdict at Gopher-style
    thresholds (0.2 / 0.18 / 0.3 on the ROUNDED values, so both engines
    decide identically). The dedup tier (j1/j47/j52) handles
    cross-corpus repetition; this is the intra-doc degeneracy filter —
    spam keyword stuffing, templated listings, lyric loops — that runs
    in every production quality pass alongside j5's length/charset
    heuristics.

    Scale: three groupBys keyed by (doc_id, token-ish) — all map-side
    partial-aggregated, no joins wider than the doc roster, no windows,
    no UDFs. Thresholds compare rounded(6dp) doubles, keeping the
    boolean on the exact-compare surface. Shared implementation:
    operators/text.repetition_signals (j58 consumes the same filter)."""
    from scopus_spark.operators.text import repetition_signals

    d = table(spark, sf_dir, "documents")
    return repetition_signals(d, par_tokens=_J56_PAR)


# --- j57: sequence packing for pretraining (concat-and-chunk prefix sum) --------------
_J57_CAP = 512  # context-window capacity in tokens
_J57_BUCKET = 1024  # doc_id range width per prefix-sum bucket


@register(
    "j57",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INT)                         AS n_tokens,
           CAST(start // {_J57_CAP} AS BIGINT)           AS pack_id,
           CAST(start % {_J57_CAP} AS BIGINT)            AS pack_offset,
           CAST((start + n_tokens - 1) // {_J57_CAP}
                - start // {_J57_CAP} + 1 AS BIGINT)     AS n_packs_spanned
    FROM c
    """,
)
def j57_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING for pretraining — the GPT-style concat-and-chunk
    layout: the corpus token stream (docs in doc_id order) is
    conceptually concatenated and cut into fixed {cap}-token context
    windows; each doc gets its pack id, offset inside the pack, and how
    many windows it spans (the attention-mask / boundary-loss
    bookkeeping a packing job must emit). The core computation is a
    GLOBAL PREFIX SUM of token counts — the one primitive here Spark's
    window would naively run on a single partition — implemented as the
    scalable two-pass shape instead: per-range-bucket cumulative sums
    (window partitioned by doc_id div {bucket}), bucket totals
    prefix-summed on the tiny aggregated table (corpus/{bucket} rows),
    and the offsets broadcast back. At 100 TB no stage ever sees more
    than a bucket's rows in one task; the oracle is the plain
    single-stream window cumsum, so the hash gate proves the
    distributed prefix sum equals the sequential semantics exactly.
    """
    from scopus_spark.operators.text import pack_sequences

    d = table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return pack_sequences(
        counts, cap=_J57_CAP, bucket=_J57_BUCKET
    )


# --- j58: end-to-end corpus-prep composite (filter -> span-dedup -> pack) -------------
@register(
    "j58",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS nt
      FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM base),
    wc AS (
      SELECT doc_id, max(c) AS top_w
      FROM (SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word)
      GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, nt),
                    i -> w[i] || chr(31) || w[i + 1])) AS bg
      FROM base WHERE nt >= 2
    ),
    bc AS (
      SELECT doc_id, max(c) AS top_b
      FROM (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    pars AS (
      SELECT doc_id,
             unnest(list_transform(
               range(CAST(ceil(nt / 20.0) AS BIGINT)),
               i -> array_to_string(
                 w[CAST(i * 20 + 1 AS BIGINT):CAST(i * 20 + 20 AS BIGINT)],
                 ' '))) AS par
      FROM base
    ),
    pc AS (
      SELECT doc_id, count(*) AS n_pars, count(DISTINCT par) AS n_unique
      FROM pars GROUP BY doc_id
    ),
    kept AS (
      SELECT b.doc_id
      FROM base b
      JOIN wc USING (doc_id)
      LEFT JOIN bc USING (doc_id)
      JOIN pc USING (doc_id)
      WHERE round(CAST(wc.top_w AS DOUBLE) / b.nt, 6) <= 0.2
        AND round(CAST(coalesce(bc.top_b, 0) AS DOUBLE)
                  / greatest(b.nt - 1, 1), 6) <= 0.18
        AND round(CAST(pc.n_pars - pc.n_unique AS DOUBLE) / pc.n_pars, 6)
              <= 0.3
    ),
    kb AS (SELECT b.* FROM base b JOIN kept USING (doc_id)),
    grams AS (
      SELECT doc_id,
             unnest(range(1, greatest(nt - 3, 1))) AS s,
             unnest(list_transform(range(1, greatest(nt - 3, 1)),
                    i -> md5(array_to_string(w[i : i + 4], chr(31))))) AS h
      FROM kb WHERE nt >= 5
    ),
    occ AS (
      SELECT doc_id, s,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
      FROM grams
    ),
    rem AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(s, s + 5)) AS p FROM occ WHERE rn > 1
      )
    ),
    remc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
    clean AS (
      SELECT kb.doc_id,
             kb.nt - coalesce(remc.n_removed, 0) AS cn
      FROM kb LEFT JOIN remc USING (doc_id)
    ),
    ne AS (SELECT doc_id, cn FROM clean WHERE cn > 0),
    c AS (
      SELECT doc_id, cn,
             coalesce(sum(cn) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM ne
    )
    SELECT doc_id,
           CAST(cn AS INT)                           AS n_tokens_clean,
           CAST(start // 512 AS BIGINT)              AS pack_id,
           CAST(start % 512 AS BIGINT)               AS pack_offset,
           CAST((start + cn - 1) // 512 - start // 512 + 1 AS BIGINT)
             AS n_packs_spanned
    FROM c
    """,
)
def j58_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END CORPUS-PREP COMPOSITE — the three round-8 operators
    chained exactly the way a production pretraining pipeline runs them,
    through one hash gate: (1) Gopher repetition filtering drops
    degenerate docs (operators/text.repetition_signals, j56's rules);
    (2) Lee et al. duplicate-SPAN removal cuts cross-corpus boilerplate
    from the survivors (operators/dedup.substring_dedup, j52's
    transform — note the first-occurrence set is computed on the
    FILTERED corpus, as it would be in the real pipeline order);
    (3) the cleaned token counts pack into 512-token context windows
    (operators/text.pack_sequences, j57's distributed prefix sum),
    empty-after-dedup docs dropping out. The oracle chains the same
    three stages as one SQL pipeline, so a green hash proves the
    OPERATORS COMPOSE — intermediate schemas, filter semantics and the
    packing order all line up, not just each stage in isolation.

    Scale: the union of the three stages' shapes — nothing new joins
    corpus-wide; the dedup gram shuffle dominates exactly as in j52."""
    from scopus_spark.operators.text import pack_sequences, repetition_signals

    d = table(spark, sf_dir, "documents")
    kept = d.join(
        repetition_signals(d).filter(F.col("keep")).select("doc_id"),
        "doc_id",
    )
    clean = dedup.substring_dedup(kept, n=5).select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_removed")).cast("int").alias("cn"),
    )
    ne = clean.filter(F.col("cn") > 0)
    out = pack_sequences(ne, tokens_col="cn", cap=512)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens_clean"),
        "pack_id",
        "pack_offset",
        "n_packs_spanned",
    )


# --- j59: temporal video perceptual fingerprint over decoded AVI frames ---------------
@register(
    "j59",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             (octet_length(encode(text)) // 3) // 4 AS n_frames
      FROM documents WHERE octet_length(encode(text)) >= 12
    ),
    sj AS (
      SELECT doc_id, hx, n_frames,
             unnest(range(0, least((n_frames + 1) // 2, 15))) AS j
      FROM b
    ),
    px AS (
      SELECT doc_id, j, i,
             (299 * ('0x' || substr(hx, 2 * (3 * (8 * j + i)) + 1, 2))::BIGINT
            + 587 * ('0x' || substr(hx, 2 * (3 * (8 * j + i) + 1) + 1, 2))::BIGINT
            + 114 * ('0x' || substr(hx, 2 * (3 * (8 * j + i) + 2) + 1, 2))::BIGINT
             ) // 1000 AS l
      FROM (SELECT doc_id, hx, j, unnest(range(0, 4)) AS i FROM sj)
    ),
    sb AS (
      SELECT doc_id, j, i, l,
             lead(l) OVER (PARTITION BY doc_id, j ORDER BY i) AS nl
      FROM px
    ),
    spat AS (
      SELECT doc_id,
             sum(CASE WHEN i < 3 AND l < nl
                      THEN (CAST(1 AS BIGINT) << (4 * j + i))
                      ELSE CAST(0 AS BIGINT) END) AS sbits
      FROM sb GROUP BY doc_id
    ),
    fr AS (SELECT doc_id, j, sum(l) AS fl FROM px GROUP BY doc_id, j),
    tb AS (
      SELECT doc_id, j, fl,
             lag(fl) OVER (PARTITION BY doc_id ORDER BY j) AS pfl
      FROM fr
    ),
    tmp AS (
      SELECT doc_id,
             sum(CASE WHEN pfl IS NOT NULL AND fl > pfl
                      THEN (CAST(1 AS BIGINT) << (4 * j - 1))
                      ELSE CAST(0 AS BIGINT) END) AS tbits
      FROM tb GROUP BY doc_id
    )
    SELECT b.doc_id AS media_id,
           CAST(b.n_frames AS BIGINT) AS n_frames,
           CAST((b.n_frames + 1) // 2 AS BIGINT) AS n_sampled,
           CAST(coalesce(s.sbits, 0) + coalesce(t.tbits, 0) AS BIGINT)
             AS vhash
    FROM b LEFT JOIN spat s ON b.doc_id = s.doc_id
           LEFT JOIN tmp t ON b.doc_id = t.doc_id
    """,
)
def j59_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL VIDEO FINGERPRINTING through the hash gate — the last
    rung of the perceptual-fingerprint matrix (j51 image dHash, j54
    audio Haitsma–Kalker, j59 video): the j36 AVI tier's decoded 2x2
    frames, sampled every 2nd frame, each contributing 3 within-frame
    luma-difference dHash bits plus 1 frame-delta bit (total luma rose
    vs the previous sampled frame), packed 4 bits per sampled frame
    into a 59-bit int64 (operators/multimodal.video_fingerprint).
    Every step — container parse, DIB decode, integer luma, strict
    comparisons, bit packing — is exact integer arithmetic, so the
    DuckDB oracle reconstructs the identical fingerprint straight off
    the staged bytes (hex-pair pixel decode, windowed lead/lag for the
    spatial and temporal deltas, shifted-bit sums) and a green hash
    proves the decode -> sample -> luma -> fingerprint loop
    bit-for-bit. Near-dup video pairing over vhash is the j11
    hamming-band machinery verbatim — the fingerprint is the new part,
    declared here.

    100 TB shape: pure Arrow-batch map work over the media table
    (decode + fingerprint in one mapInPandas pass, zero shuffle until
    the tiny band join)."""
    docs = table(spark, sf_dir, "documents").filter(
        F.octet_length("text") >= 12
    )
    return multimodal.video_fingerprint(
        multimodal.attach_avi(docs), every_n=2, max_frames=15
    )

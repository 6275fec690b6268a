"""Deduplication operators for the training-data pipeline (SURVEY §2.L).

Four tiers, all DataFrame-native:

1. Exact (j1/g6):       sha256 hash-groupBy — one shuffle on a 32-byte key.
2. MinHash + LSH (j9):  map-side signatures + banding; ONE shuffle on
                        (band_no, band_hash); candidates re-verified with
                        exact Jaccard (j2 semantics) so declared results
                        are always exact.
3. SimHash (j10/j11):   60-bit fingerprint, map-side; hamming-near
                        pairs via band-equality join + bit_count verify.
4. Embedding cosine (queries/llm.py j12): near-dup by vector similarity.

Determinism contract: every hash derives from md5 of the content (never
murmur/xxhash, which differ across engines), so DuckDB oracles reproduce
signatures bit-for-bit.

100 TB notes: signatures/fingerprints are map-side only (no shuffle until
the candidate join); banding bounds join fan-out (a pair must share a full
band); AQE skew splitting handles hot bands (e.g. boilerplate docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scopus_spark import execution
from scopus_spark.operators.text import hash60, word_shingles

N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SIMHASH_BITS = 60


def banded_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, band_no, band_hash): MinHash-LSH band digests.

    Signature element s is the min over the doc's word-3-gram shingles of
    md5(s || ':' || shingle), for s in 0..N_HASHES-1; band b is
    md5 of signature elements b*ROWS_PER_BAND .. (b+1)*ROWS_PER_BAND-1
    joined with '|'. Shingles explode once, the N_HASHES md5s run as
    plain codegen'd expressions per (doc, shingle) row, and one
    map-side-combinable groupBy(doc) takes the minima. Nested
    higher-order functions would be interpreted (no whole-stage codegen)
    and re-evaluated on each side of the LSH self-join: measured at sf0.1
    that was ~150 s per evaluation against ~3 s for this shape.

    The expressions are SQL text: Catalyst parses them into the same
    trees as the equivalent Column calls, in a handful of py4j round
    trips instead of one per call.

    Degenerate docs (< 3 tokens, so an empty shingle set) produce NO rows
    and never become candidates, as in the DuckDB oracles."""
    mins = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col)).alias("shingle"),
    ).groupBy("doc_id").agg(*[
        F.expr(f"min(md5(concat('{s}:', shingle))) AS _h{s}")
        for s in range(N_HASHES)
    ])
    bands = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"_h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + "))"
        for b in range(N_BANDS)
    )
    return mins.selectExpr(
        "doc_id", f"posexplode(array({bands})) AS (band_no, band_hash)"
    )


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band.

    Returns (doc_a, doc_b, n_shared_bands). The caller re-verifies with
    exact Jaccard (queries/llm.py j2) — LSH only prunes. Signatures come
    from banded_signatures (codegen shape) and are cut (execution.cut)
    so the self-join's two sides and every later reader of the pairs
    share ONE evaluation. The cut is not lazy: it runs the signature
    pass when the frame is built."""
    # Measured at sf0.1 (4 cores): with no barrier, sharing through
    # ReusedExchange alone, n15 ran in 13.7 s against 6.5 s with the
    # cut; with a pin, 21 s (65 jobs against 22).
    banded = execution.cut(banded_signatures(docs, id_col, text_col))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _ranked_shingle_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, sh_sorted, n_sh): each doc's distinct word-3-gram
    shingles sorted rarest first, by the global order (document
    frequency asc, shingle asc), and their count. Pinned: every caller
    reads it from several subtrees, each of which would otherwise re-run
    the whole explode -> df count -> join -> per-doc sort pipeline
    (measured at sf0.1, the j2 plan carried 30 Exchanges, 3 evaluations,
    before pinning)."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col)).alias("shingle"),
    )
    # Document frequency via groupBy + equi-join back, NOT a count window.
    # A Window.partitionBy("shingle") count funnels every occurrence of a
    # hot boilerplate shingle through ONE task and AQE cannot split a
    # window partition; groupBy gets map-side partial aggregation (the
    # hot key arrives at the reducer as a handful of partial counts) and
    # the join back is an equi-join AQE can skew-split. Shingles are
    # per-doc distinct (word_shingles -> array_distinct), so count(*) per
    # shingle IS the document frequency.
    shingle_df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return execution.pin(sh.join(shingle_df, "shingle").groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))),
            lambda s: s.shingle,
        ).alias("sh_sorted"),
        F.count(F.lit(1)).alias("n_sh"),
    ))


def prefix_filter_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT near-dup pairs (Jaccard >= threshold) via prefix filtering.

    AllPairs/PPJoin candidate generation (Bayardo et al., WWW'07): order each
    document's shingle set by global document-frequency (rarest first), then
    join only on each set's first ``n - ceil(t*n) + 1`` shingles. Two sets
    with Jaccard >= t MUST share a prefix element under any common total
    order (prefix-filter lemma), so — unlike MinHash banding — this prunes
    with zero false negatives. A length filter (min >= t * max) drops
    cross-size candidates before the verify step, which recomputes the exact
    Jaccard from the full sorted shingle arrays map-side.

    100 TB shape: the candidate join touches only the rarest ~(1-t) fraction
    of each document's shingles; globally hot shingles (boilerplate) sort to
    the back of every ordering and almost never enter a prefix, so the join
    key distribution is anti-skewed by construction. Shuffles: shingle
    explode+df count, df join, per-doc sort (one groupBy), prefix self-join,
    two verify joins on doc id — all on bounded keys.

    Returns (doc_a, doc_b, jaccard) with jaccard rounded to 6dp.
    """
    # docsets feeds THREE subtrees (the prefix explode and both verify sides)
    docsets = _ranked_shingle_sets(docs, id_col, text_col)
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    pref = docsets.select(
        "doc_id",
        "n_sh",
        F.explode(F.slice("sh_sorted", F.lit(1), prefix_len)).alias("shingle"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t  =>  min(|A|,|B|) >= t * max(|A|,|B|)
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= F.lit(threshold) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_a = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_sorted").alias("set_a"),
        F.col("n_sh").alias("na"),
    )
    sets_b = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_sorted").alias("set_b"),
        F.col("n_sh").alias("nb"),
    )
    n_inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = n_inter / (F.col("na") + F.col("nb") - n_inter)
    return (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash_bands(fp: str) -> str:
    """SQL array of the N_BANDS bit-slices of simhash column `fp` (4 x 15
    bits, as in the j11 oracle), for hamming-LSH joins. Band value = the
    masked (unshifted) slice: band_no is part of the join key, so no
    shift is needed."""
    per = SIMHASH_BITS // N_BANDS
    masks = [((1 << per) - 1) << (per * b) for b in range(N_BANDS)]
    return "array(" + ", ".join(f"{fp} & {m}L" for m in masks) + ")"


def simhash_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp): the SIMHASH_BITS-bit SimHash of each document's
    whitespace tokens. Bit i of fp is set iff more tokens have bit i of
    hash60(token) set than not. Every token occurrence votes (explode keeps
    duplicates), and split() never yields an empty array, so every doc
    gets a row.

    Tokens explode once, hash60 runs as one codegen'd md5 per (doc,
    token) row, the bit balances are plain conditional sums with
    map-side partials, and the fingerprint packs from the aggregated
    row: one groupBy(doc) shuffle carrying one row per doc. Balances and
    fingerprint are SQL text (the banded_signatures rationale)."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select("doc_id", hash60(F.col("tok")).alias("h"))
    balances = hashed.groupBy("doc_id").agg(*[
        F.expr(f"sum(IF((h & {1 << b}L) != 0, 1, -1)) AS _s{b}")
        for b in range(SIMHASH_BITS)
    ])
    fp = " + ".join(f"IF(_s{b} > 0, {1 << b}L, 0L)" for b in range(SIMHASH_BITS))
    return balances.selectExpr("doc_id", f"{fp} AS fp")


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    LSH on 15-bit bands (a pair within hamming 3 of 60 bits must agree on
    >=1 band; wider hamming uses more bands/permutations at scale); each
    band match is verified with an exact bit_count(xor). Fingerprints
    come from simhash_df (codegen shape) and are cut (execution.cut) so
    the band self-join's two sides and every later reader share one
    evaluation; like lsh_candidate_pairs, the build runs the pass."""
    banded = execution.cut(simhash_df(docs, id_col, text_col)).selectExpr(
        "doc_id", "fp", f"posexplode({simhash_bands('fp')}) AS (band_no, band_val)"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT directional containment pairs: C(A->B) = |A∩B| / |A| >= t
    over word-3-gram shingle sets — the ASYMMETRIC near-dup tier.

    Symmetric Jaccard (prefix_filter_pairs / j2) misses the partial-copy
    shape that dominates real web corpora: a short document wholly embedded
    in a much longer one (quote farms, boilerplate wrappers, article +
    comment-thread mirrors) has Jaccard |A|/|B| ~ 0 but containment 1.0.
    Emitting (src, dst) directionally also tells the dedup policy WHICH doc
    is the subsumed one — the src of a >= t edge is the drop candidate.

    Candidate generation adapts the prefix-filter lemma to the asymmetric
    overlap bound o = ceil(t*|A|): if |A∩B| >= o then at least one of A's
    first |A| - o + 1 rarity-sorted shingles lies in A∩B ⊆ B, so joining
    the SRC prefix against the full DST postings has zero false negatives.
    Only the src side can be prefix-pruned (B carries no size-dependent
    bound on its own elements), so unlike the symmetric join the dst side
    posts every shingle — but the join still only fires where a RARE src
    prefix shingle matches, and the |B| >= o size filter drops small-dst
    candidates before verification. Verification recomputes the exact
    containment from the full sorted shingle arrays map-side.

    Scale: same bounded-key shuffles as prefix_filter_pairs (explode + df
    count + two groupBys + equi-joins, all AQE-skew-splittable); the dst
    postings list is the corpus shingle relation already materialized for
    the df count — no new corpus-scale state. Returns
    (src_doc, dst_doc, containment) rounded to 6dp.
    """
    # docsets feeds FOUR subtrees (prefix, postings, both verify sides)
    docsets = _ranked_shingle_sets(docs, id_col, text_col)
    # src prefix: the first |A| - ceil(t*|A|) + 1 rarity-sorted shingles.
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    pref = docsets.select(
        F.col("doc_id").alias("src_doc"),
        F.col("n_sh").alias("na"),
        F.explode(F.slice("sh_sorted", F.lit(1), prefix_len)).alias("shingle"),
    )
    post = docsets.select(
        F.col("doc_id").alias("dst_doc"),
        F.col("n_sh").alias("nb"),
        F.explode("sh_sorted").alias("shingle"),
    )
    min_overlap = F.ceil(F.lit(threshold) * F.col("na"))
    cand = (
        pref.join(
            post,
            (pref["shingle"] == post["shingle"])
            & (pref["src_doc"] != post["dst_doc"])
            # |A∩B| <= |B|, so |B| >= ceil(t*|A|) is necessary.
            & (post["nb"] >= min_overlap),
        )
        .select("src_doc", "dst_doc")
        .distinct()
    )
    sets_a = docsets.select(
        F.col("doc_id").alias("src_doc"),
        F.col("sh_sorted").alias("set_a"),
        F.col("n_sh").alias("na"),
    )
    sets_b = docsets.select(
        F.col("doc_id").alias("dst_doc"),
        F.col("sh_sorted").alias("set_b"),
    )
    n_inter = F.size(F.array_intersect("set_a", "set_b"))
    cont = n_inter / F.col("na")
    return (
        cand.join(sets_a, "src_doc")
        .join(sets_b, "dst_doc")
        .filter(cont >= threshold)
        .select("src_doc", "dst_doc", F.round(cont, 6).alias("containment"))
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    par_tokens: int = 20,
) -> DataFrame:
    """(doc_id, n_pars, n_removed, clean_text) — drop every paragraph
    seen earlier anywhere in the corpus (global first occurrence = min
    (doc_id, position) wins), keep the host doc, reassemble the
    survivors in order. The C4-recipe sub-document dedup step; j47 is
    the declared query over the documents table.

    Paragraphs are non-overlapping `par_tokens`-token windows (prose
    corpora would split on double-newline with the identical plan).
    Two bounded shuffles: keep-first ranks over the 32-byte
    sha256(paragraph) key (uniform, skew-free), reassembly is one
    groupBy(id) with a deterministic array_sort(collect_list(struct)).
    Idempotent: re-running on its own clean_text output removes nothing
    (property-tested in tests/test_paragraph_dedup.py).
    """
    tk = F.split(F.col(text_col), " ")
    n_par = F.ceil(F.size(tk) / F.lit(float(par_tokens))).cast("int")
    pars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_par - 1),
                lambda i: F.array_join(
                    F.slice(tk, i * par_tokens + 1, F.lit(par_tokens)), " "
                ),
            )
        ).alias("par_idx", "par"),
    )
    w = Window.partitionBy(F.sha2(F.col("par"), 256)).orderBy(
        "doc_id", "par_idx"
    )
    return (
        pars.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pars"),
            F.count_if(F.col("rn") > 1).cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1, F.struct("par_idx", "par")
                            )
                        )
                    ),
                    lambda s: s["par"],
                ),
            ).alias("clean_text"),
        )
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(doc_id, n_tokens, n_removed, clean_text) — remove DUPLICATED
    SPANS, keep the rest of the document (Lee et al. 2022 ExactSubstr):
    any run of >= `n` tokens that appeared verbatim EARLIER in the
    corpus is cut from the later occurrence; the first occurrence and
    the host document survive. Sits between j47 (drop whole duplicated
    paragraphs) and j1 (drop whole duplicated docs): boilerplate is
    excised at exactly its extent.

    Relational form of the suffix-array pass: a duplicated run of >= n
    tokens is a run of duplicated n-grams, so the union of spans of
    NON-FIRST n-gram occurrences (first = min (doc_id, start) over the
    gram hash, the deterministic "seen earlier" order) equals the
    duplicated-substring coverage at granularity n — j40's detection
    turned into a transform. md5 grams keep DuckDB oracles
    bit-identical.

    Plan shape (the 100 TB story): gram building is map-side array
    work; ONE corpus-scale shuffle on the uniform md5 gram key finds
    first occurrences; only hashes with >= 2 occurrences join back
    (delta-sized); removed POSITIONS aggregate per doc (delta-sized
    rows, small arrays); reassembly is map-side — array_except of the
    position sequence against the doc's removed set, then token lookup
    — so the corpus token stream is never shuffled for reassembly
    (unlike a posexplode/anti-join formulation, which would move every
    token of every document)."""
    tk = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tk.alias("w"),
        F.size(tk).alias("n_tokens"),
    )
    grams = (
        base.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("s"),
                        F.md5(
                            F.concat_ws("\x1f", F.slice("w", i, n))
                        ).alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.s").alias("s"), F.col("g.h").alias("h"))
    )
    firsts = (
        grams.groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "s")).alias("first"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
        .select("h", "first")
    )
    removed = (
        grams.join(firsts, "h")
        .filter(F.struct("doc_id", "s") > F.col("first"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + (n - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("p")).alias("ps"),
            F.count(F.lit(1)).cast("long").alias("n_removed"),
        )
    )
    keep = F.array_except(
        F.sequence(F.lit(1), F.col("n_tokens")),
        F.coalesce(F.col("ps"), F.array().cast("array<int>")),
    )
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            " ", F.transform(keep, lambda p: F.element_at("w", p))
        ).alias("clean_text"),
    )

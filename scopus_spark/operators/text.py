"""Text-analysis column builders (SURVEY §2.L additions).

Pure Column expressions (JVM-side, whole-stage codegen) shared by the
dedup/fingerprint/language/quality operators — no UDFs anywhere in these
hot paths, so they scale as plain map work at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from scopus_spark import execution


def tokens(text: str | Column) -> Column:
    """Whitespace tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(text: str | Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as an array column (map-side only).

    Docs with fewer than ``k`` tokens yield an EMPTY array (the same
    contract as the SQL oracles): without the guard, ``sequence(0, -1)``
    expands to the descending pair [0, -1] and ``element_at`` faults with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on short documents.
    """
    w = tokens(text)
    return F.when(
        F.size(w) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + j + 1) for j in range(k)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_shingles(text: str | Column, k: int = 5) -> Column:
    """Distinct character k-gram shingles (fingerprinting granularity)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - k + 1, F.lit(0))),
            lambda i: c.substr(i, F.lit(k)),
        )
    )


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 — identical in DuckDB via
    ('0x' || substr(md5(x),1,15))::BIGINT (cross-engine verified)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Tiny per-language marker-word lists for the heuristic language scorer.
# Deterministic, SQL-expressible; linguistic accuracy is NOT the contract —
# argmax semantics are (the corpus is synthetic bag-of-words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "row", "table"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "fr": ("le", "la", "et", "les", "des", "un", "est"),
    "zh": ("de", "shi", "bu", "le", "zai", "ren", "you"),
}


def lang_score(text: str | Column, lang: str) -> Column:
    """Fraction of tokens that are marker words for `lang`."""
    toks = tokens(text)
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return hits / F.size(toks)


def winnow_fingerprints(text: str | Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing selection (Schleimer et al., MOSS): array of
    struct<pos, fp> — per window of ``w`` consecutive char-``k``-gram md5
    hashes, the minimum hash (rightmost on ties), 1-based gram position.
    Pure map-side array expressions; texts shorter than w + k - 1 yield
    an empty array. Used by j39; duplicates across overlapping windows
    are collapsed by the caller's DISTINCT."""
    c = F.col(text) if isinstance(text, str) else text
    grams_expr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(0))),
        lambda i: F.md5(F.substring(c, i, k)),
    )
    def _sel(grams):
        win = lambda i: F.slice(grams, i, w)  # noqa: E731
        return F.when(
            F.size(grams) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(grams) - (w - 1)),
                lambda i: F.struct(
                    (
                        i
                        - 1
                        + (
                            F.lit(w + 1)
                            - F.array_position(
                                F.reverse(win(i)), F.array_min(win(i))
                            )
                        )
                    )
                    .cast("long")
                    .alias("pos"),
                    F.array_min(win(i)).alias("fp"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:bigint,fp:string>>"))
    return _sel(grams_expr)


def apply_merge(syms: Column, lt: str, rt: str, merged: str) -> Column:
    """One BPE merge rule applied to a symbol array as a pure map-side
    JVM left-fold: greedy, non-overlapping, left-to-right (the BPE
    contract). Shared by learn_bpe (training) and bpe_encode
    (inference) so the two can never disagree on merge semantics."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lt))
            & (x == F.lit(rt)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_symbols(word: str | Column) -> Column:
    """A word's initial BPE symbol array: characters + the </w> marker."""
    w = F.col(word) if isinstance(word, str) else word
    return F.concat(F.split(w, ""), F.array(F.lit("</w>")))


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the TOKENIZE step
    every training run executes after learn_bpe's training step: rules
    apply in merge_rank order, each as the shared apply_merge fold.

    Scale shape (the production layout): the merge table is bounded
    tokenizer metadata (collected once, inlined into the fold
    expressions — the broadcast-dim exception); encoding runs over the
    DISTINCT WORD VOCABULARY, never the corpus (the learn_bpe Zipf
    argument applied to inference: encode each distinct word once, join
    the token arrays back to the token stream on the word key). The
    join is a plain equi-join on word; at 100 TB the vocabulary side is
    millions of rows and broadcastable.

    Returns (doc_id, word_no, w, tokens array<string>) — one row per
    word occurrence in reading order.
    """
    rules = [
        (r["left"], r["right"], r["merged"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    occurrences = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "[^a-z]+")
        ).alias("word_no", "w"),
    ).filter(F.length("w") > 0)
    vocab = occurrences.select("w").distinct()
    enc = vocab.select("w", word_symbols("w").alias("tokens"))
    for i, (lt, rt, merged) in enumerate(rules):
        enc = enc.select("w", apply_merge(F.col("tokens"), lt, rt, merged).alias("tokens"))
        if (i + 1) % 4 == 0:
            # cap nested-fold expression depth (the learn_bpe discipline)
            enc = execution.cut(enc)
    return occurrences.join(enc, "w").select(
        "doc_id", "word_no", "w", "tokens"
    )


def learn_bpe(docs: DataFrame, text_col: str = "text", n_merges: int = 12) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich/Haddow/Birch 2016,
    the subword algorithm under GPT-2/RoBERTa-style tokenizers): learn
    `n_merges` merge rules over the corpus, returned as
    (merge_rank, left, right, merged, pair_count).

    The scale insight the reference implementations (subword-nmt,
    fastBPE) exploit — and this rendering keeps — is that after ONE
    corpus-scale word count, every iteration runs over the WORD
    VOCABULARY weighted by frequency, never the corpus again: a Zipf
    vocabulary is millions of rows where the corpus is billions. Per
    round: adjacent-pair explode + one map-side-combinable count
    (shuffle bounded by distinct pair count), a 1-row argmax collect
    (count DESC, pair ASC — deterministic tie-break), then the merge
    applies as a pure map-side left-fold over each word's symbol array
    (JVM higher-order aggregate — greedy non-overlapping left-to-right,
    the BPE contract). A cut per round (execution.cut) caps the
    nested-fold expression depth.

    CONSTRUCTION runs the merge loop (1-row collect per round — same
    adjudication as n12/pagerank/j45); production persists the learned
    merge table and applies it map-side.
    """
    words = execution.cut(
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z]+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(word_symbols("w").alias("syms"), "freq")
    )
    spark = docs.sparkSession
    merges = []
    for rank in range(n_merges):
        pairs = (
            words.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias(
                            "left"
                        ),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias(
                            "right"
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            # bounded: limit(1) — the single best merge pair per round
            .collect()
        )
        if not pairs:
            break
        best = pairs[0]
        lt, rt, merged = best.left, best.right, best.left + best.right
        merges.append((rank, lt, rt, merged, int(best.cnt)))
        words = execution.cut(words.select(
            apply_merge(F.col("syms"), lt, rt, merged).alias("syms"), "freq"
        ))
    return spark.createDataFrame(
        merges,
        "merge_rank long, left string, right string, merged string, pair_count long",
    )


def winnow_fingerprints_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(doc_id, pos, fp) — winnowing selection in the codegen shape (the
    banded_signatures/simhash_df rationale applied to MOSS): instead of
    interpreted per-row array lambdas evaluating O(chars * w) slice/
    array_min/reverse work, gram positions POSEXPLODE to one row per
    char-k-gram, the hash is ONE codegen'd md5(substring), and each
    window's (min hash, rightmost position) is a single frame aggregate
    min(struct(fp, -pos)) OVER (PARTITION BY doc ORDER BY pos ROWS
    BETWEEN CURRENT ROW AND w-1 FOLLOWING) — lexicographic struct min
    gives exactly the min-hash-then-rightmost tie-break. Duplicate
    selections across overlapping windows collapse in the final
    DISTINCT (which the caller already paid in the expression form).

    One window sort per doc partition + one distinct shuffle; at 100 TB
    both key on doc_id and the gram relation is ~chars rows — the same
    explode budget h2's tokenize-count pays.
    """
    from pyspark.sql.window import Window

    # sub-k-length docs have ZERO grams; sequence(1, 0) would expand to
    # the DESCENDING [1, 0] (the word_shingles footgun) and, for w <= 2,
    # those partial-gram rows would survive the frame-count filter as
    # bogus fingerprints — filter the docs out instead.
    grams = docs.filter(F.length(F.col(text_col)) >= k).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.sequence(F.lit(1), F.length(F.col(text_col)) - (k - 1))
        ).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        F.md5(F.substring(F.col("_t"), F.col("pos"), k)).alias("h"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = grams.select(
        "doc_id",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(
            frame
        ).alias("m"),
        F.count(F.lit(1)).over(frame).alias("_n"),
    ).filter(F.col("_n") == w)
    return sel.select(
        "doc_id",
        (-F.col("m.np")).cast("long").alias("pos"),
        F.col("m.h").alias("fp"),
    ).distinct()


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    par_tokens: int = 20,
    max_word_frac: float = 0.2,
    max_bigram_frac: float = 0.18,
    max_dup_par_frac: float = 0.3,
) -> DataFrame:
    """(doc_id, n_tokens, top_word_frac, top_bigram_frac, dup_par_frac,
    keep) — the Gopher within-document repetition filters (Rae et al.
    2021 App. A1), shared by j56 (the declared signal report) and j58
    (the end-to-end corpus-prep composite). Thresholds compare the
    ROUNDED (6dp) fractions so any engine computing the same integers
    reaches the same verdict. Three map-side partial groupBys; no
    windows, no UDFs."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
        F.size(F.split(F.col(text_col), " ")).alias("nt"),
    )
    words = base.select("doc_id", F.explode("w").alias("word"))
    wc = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_w"))
    )
    bigrams = base.filter(F.col("nt") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("nt") - 1),
                lambda i: F.concat_ws(
                    "\x1f",
                    F.element_at("w", i),
                    F.element_at("w", i + F.lit(1)),
                ),
            )
        ).alias("bg"),
    )
    bc = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_b"))
    )
    n_par = F.ceil(F.col("nt") / F.lit(float(par_tokens))).cast("int")
    pars = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_par - 1),
                lambda i: F.array_join(
                    F.slice("w", i * par_tokens + 1, F.lit(par_tokens)), " "
                ),
            )
        ).alias("par"),
    )
    pc = pars.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pars"),
        F.countDistinct("par").alias("n_unique"),
    )
    top_word_frac = F.round(F.col("top_w").cast("double") / F.col("nt"), 6)
    top_bigram_frac = F.round(
        F.coalesce(F.col("top_b"), F.lit(0)).cast("double")
        / F.greatest(F.col("nt") - 1, F.lit(1)),
        6,
    )
    dup_par_frac = F.round(
        (F.col("n_pars") - F.col("n_unique")).cast("double") / F.col("n_pars"),
        6,
    )
    return (
        base.select("doc_id", "nt")
        .join(wc, "doc_id")
        .join(bc, "doc_id", "left")
        .join(pc, "doc_id")
        .select(
            "doc_id",
            F.col("nt").alias("n_tokens"),
            (top_word_frac + F.lit(0.0)).alias("top_word_frac"),
            (top_bigram_frac + F.lit(0.0)).alias("top_bigram_frac"),
            (dup_par_frac + F.lit(0.0)).alias("dup_par_frac"),
            (
                (top_word_frac <= max_word_frac)
                & (top_bigram_frac <= max_bigram_frac)
                & (dup_par_frac <= max_dup_par_frac)
            ).alias("keep"),
        )
    )


def pack_sequences(
    counts: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    cap: int = 512,
    bucket: int = 1024,
) -> DataFrame:
    """(doc_id, n_tokens, pack_id, pack_offset, n_packs_spanned) —
    concat-and-chunk sequence packing over (id, token-count) rows in
    id order. The global prefix sum runs as the scalable two-pass
    shape: per-id-range-bucket window cumsums, bucket totals
    prefix-summed on the tiny aggregated table, offsets broadcast
    back — no stage ever materializes a single global partition.
    Shared by j57 (raw corpus) and j58 (the cleaned corpus)."""
    from pyspark.sql.window import Window

    t = counts.select(
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).alias("n_tokens"),
        (F.col(id_col) / bucket).cast("long").alias("bkt"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = t.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    totals = t.groupBy("bkt").agg(F.sum("n_tokens").alias("tot"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefixes = totals.withColumn(
        "bkt_prefix", F.coalesce(F.sum("tot").over(w_bkt), F.lit(0))
    ).select("bkt", "bkt_prefix")
    c = within.join(F.broadcast(prefixes), "bkt").select(
        "doc_id",
        "n_tokens",
        (F.col("bkt_prefix") + F.col("local_start")).alias("start"),
    )
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"start div {cap}").cast("long").alias("pack_id"),
        (F.col("start") % cap).cast("long").alias("pack_offset"),
        (
            F.expr(f"(start + n_tokens - 1) div {cap}")
            - F.expr(f"start div {cap}")
            + F.lit(1)
        ).cast("long").alias("n_packs_spanned"),
    )

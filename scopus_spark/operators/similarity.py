"""Similarity search over embedding columns (SURVEY §2.L).

Two tiers:
- **Exact brute force** (queries/llm.py j3/j4) — the correctness anchor.
- **IVF-pruned ANN** (here) — the 100 TB path: vectors are assigned to
  coarse cells once (one shuffle, then cell-partitioned storage); a query
  probes only the n_probe nearest cells and re-ranks EXACTLY inside them,
  scanning n_probe/n_cells of the data. With n_probe == n_cells it
  degenerates to exact brute force (asserted in tests).

The coarse quantizer is deterministic: the n_cells lowest-vec_id vectors
serve as fixed SEED centroids (no RNG — resumable, cross-run stable),
optionally refined with a few Lloyd (k-means) iterations — still fully
deterministic given the seeds. Exactness of exact_1nn never depends on
WHICH centroids are used (any consistent assignment keeps the pruning
bound valid), so refinement is purely a cell-balance / probe-pruning
optimization.

Cell-count sizing: per-cell candidate volume of a self-join is
~n^2/n_cells, so a CONSTANT n_cells stays quadratic as the corpus grows.
auto_n_cells picks n_cells ≈ sqrt(n) (candidate volume ~n^1.5) from a
cheap count, the standard IVF sizing rule.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scopus_spark import execution


def auto_n_cells(n_vectors: int) -> int:
    """IVF cell count ≈ sqrt(n), clamped to [4, 4096].

    sqrt-n keeps per-cell self-join volume at ~n^1.5 instead of the
    n^2/const of a fixed cell count; the cap bounds the broadcast centroid
    row (4096 x dim doubles) well under any broadcast threshold."""
    return max(4, min(4096, math.isqrt(max(n_vectors, 1))))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns: a left fold from 0.0."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def norm(c: Column) -> Column:
    """L2 norm of an array<double> column."""
    return F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM higher-order fns)."""
    return dot(a, b) / (norm(a) * norm(b))


def as_double(col: str | Column = "embedding") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _centroid_row(embeddings: DataFrame, n_cells: int) -> DataFrame:
    """ONE row holding array<struct<cell_id, centroid, cnrm>> for broadcast.

    Centroids = the n_cells lowest-vec_id vectors (deterministic seed
    centroids — no RNG, resumable). Packing them into a single array row
    makes every per-vector cell computation a map-side array expression
    after a 1-row broadcast nested-loop join (no shuffle, no groupBy).
    """
    nrm = norm(as_double())
    return (
        embeddings.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell_id"),
            as_double().alias("centroid"),
            nrm.alias("cnrm"),
        )
        .agg(F.collect_list(F.struct("cell_id", "centroid", "cnrm")).alias("cells"))
    )


def _dot_sql(a: str, b: str, width: int = 64) -> Column:
    """The dot fold with a WHOLE-STAGE-CODEGEN fast path for the
    corpus's fixed vector width (FIXTURES.md: 64-dim, all rows).

    r10 (guide §1.2 step 2): higher-order functions are CodegenFallback —
    every pair score in the O(n·k²)/O(candidates) similarity streams ran
    through the interpreted evaluator. The fast path is the SAME left
    fold spelled out (0.0 + p0 + p1 + ...), so IEEE addition order and
    NULL semantics are bit-identical to the HOF branch; rows whose arrays
    are not exactly `width` wide take the original HOF expression via the
    size guard (dim-generic operators stay dim-generic — pinned by the
    operator test suites at dims 4..64). Takes column NAMES (one F.expr:
    composing 64 terms Column-by-Column costs ~12 ms of py4j latency per
    call — the _tproj lesson)."""
    terms = " + ".join(f"(get({a}, {i}) * get({b}, {i}))" for i in range(width))
    return F.expr(
        f"CASE WHEN size({a}) = {width} AND size({b}) = {width} "
        f"THEN 0.0D + {terms} "
        f"ELSE aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(s, x) -> s + x) END"
    )


# Fixed support width for the threshold-join grid projections. 64 matches
# the corpus contract (FIXTURES.md: embeddings are 64-dim, all rows), but
# the math is width-agnostic — see the note inside threshold_pair_join.
_PROJ_WIDTH = 64


def _proj_coeffs(seed: int, width: int = _PROJ_WIDTH) -> tuple[list[float], float]:
    """Deterministic pseudo-random projection direction (the GLSL-hash
    recipe) computed ONCE driver-side: returns (coefficients, norm).
    Engine-internal only — exactness of threshold_pair_join never depends
    on the direction values (any fixed p gives a valid grid bound)."""
    cs = [
        math.fmod(
            math.sin((i + 1) * 12.9898 + float(seed) * 78.233) * 43758.5453,
            1.0,
        )
        - 0.5
        for i in range(width)
    ]
    return cs, math.sqrt(sum(c * c for c in cs))


# r10 adjudication note (guide §1.2/§4): an Arrow-vectorized pandas_udf
# dot product for the pair-scoring sites was built and measured this
# round. It LOST to the JVM fold once parallelism was pinned: shipping
# 2x dim doubles per candidate pair through the Python boundary
# (JVM->Arrow conversion + worker round-trip, ~4 GB at j4's 3.9M pairs)
# costs more than ~dim interpreted lambda evaluations per pair
# (j4 fold+repartition 9.7 s vs Arrow+repartition ~30 s). The fixes that
# actually moved these operators were (a) explicit scale-adaptive
# partition pins on the byte-tiny/CPU-heavy candidate streams and
# (b) the sampled centroid fit — see exact_topk_join / fit_centroids.


def ivf_assign(embeddings: DataFrame, n_cells: int = 16) -> DataFrame:
    """Assign every vector to its best coarse cell — map-side only.

    Round 3: the old plan cross-joined all vectors with the centroid table
    and ran a groupBy argmax (one avoidable Exchange on vec_id). Now the
    centroids travel as ONE broadcast row holding an array, and the argmax
    is an array_max over per-cell structs — pure map work, zero shuffles.
    Tie-break: highest sim, then lowest cell_id (struct compare on
    (sim, -cell_id)), identical to the previous semantics.
    """
    nrm = norm(as_double())
    scored = embeddings.crossJoin(F.broadcast(_centroid_row(embeddings, n_cells)))
    sims = F.transform(
        F.col("cells"),
        lambda c: F.struct(
            F.round(dot(as_double(), c["centroid"]) / (nrm * c["cnrm"]), 6).alias(
                "sim"
            ),
            (-c["cell_id"]).alias("negid"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    return scored.withColumn("cell_id", F.array_max(sims)["cell_id"]).drop("cells")


def _refine_centroids(base: DataFrame, n_cells: int, iters: int = 2) -> DataFrame:
    """Lloyd (k-means) refinement of the deterministic seed centroids.

    ``base`` must carry (vec_id, emb array<double>, nrm). Each iteration:
    map-side assignment against the broadcast centroid array row, then a
    posexplode + (cell_id, pos) average builds the new per-cell mean
    vector — two reduced shuffles per iteration, both with map-side
    partial aggregation; the centroid table itself stays n_cells rows.
    Cells that lose all members (or whose mean degenerates to ~zero norm,
    which would poison cosine with NaN) keep their previous centroid.
    Deterministic given the seed centroids. Callers' exactness never
    depends on which centroids come out — only that ONE consistent
    assignment is used throughout — so this is purely a cell-balance /
    probe-pruning optimization.
    """
    cents = (
        base.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("emb").alias("centroid"),
            F.col("nrm").alias("cnrm"),
        )
    )
    if iters > 0:
        # r10 (guide §2.5/§2.6): the fit's per-row interpreted centroid
        # transform inherits the SCAN's partitioning — a one-file corpus
        # parquet is ONE input split, so every Lloyd assignment ran on a
        # single core (UI: 1-task stages of seconds each). Pin the fit
        # input to the session's core count; the fit stream is the
        # (sampled) vector table, bounded by fit_centroids at scale.
        # r11: max(cores, configured shuffle width) — see execution.width.
        base = base.repartition(execution.width(base.sparkSession))
    for _ in range(iters):
        cent_row = cents.agg(
            F.collect_list(F.struct("cell_id", "centroid", "cnrm")).alias("cells")
        )
        sims = F.transform(
            F.col("cells"),
            lambda c: F.struct(
                (
                    dot(F.col("emb"), c["centroid"]) / (F.col("nrm") * c["cnrm"])
                ).alias("sim"),
                (-c["cell_id"]).alias("negid"),
                c["cell_id"].alias("cell_id"),
            ),
        )
        assigned = base.crossJoin(F.broadcast(cent_row)).select(
            F.array_max(sims)["cell_id"].alias("cell_id"), "emb"
        )
        mean_nrm = norm(F.col("mean"))
        means = (
            assigned.select("cell_id", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mean")
            )
            .select("cell_id", "mean", mean_nrm.alias("mnrm"))
        )
        keep_new = F.col("mnrm") > 1e-12
        cents = cents.join(means, "cell_id", "left").select(
            "cell_id",
            F.when(keep_new, F.col("mean")).otherwise(F.col("centroid")).alias(
                "centroid"
            ),
            F.when(keep_new, F.col("mnrm")).otherwise(F.col("cnrm")).alias("cnrm"),
        )
    return cents


def exact_1nn(
    embeddings: DataFrame,
    n_cells: int | None = None,
    eps: float = 1e-6,
    refine_iters: int = 2,
    n_rows: int | None = None,
) -> DataFrame:
    """EXACT all-pairs 1-NN without the O(n^2) cartesian self-join.

    IVF with a triangle-inequality-style pruning bound that preserves
    exactness (the FAISS IVFFlat idea, made exact): every vector is
    assigned to its nearest of n_cells seed centroids (map-side, broadcast
    array row); phase 1 finds each query's best match INSIDE its own cell
    (equi-join on cell_id); phase 2 probes only cells that could still
    win: for unit vectors, cos(q, p) <= cos(q, c_j) + ||p_hat - c_j_hat||,
    so a cell whose centroid-similarity-plus-radius upper bound falls
    beneath the phase-1 best (minus an epsilon absorbing the 6dp rounding
    grid) cannot contain the true neighbor and is skipped. Every surviving
    candidate is re-scored with the same rounded cosine as the brute-force
    anchor, so output == brute force exactly, including tie-breaks.

    100 TB shape: the only joins are equi-joins on cell_id (shuffle keys
    bounded by n_cells; AQE skew-split handles fat cells) plus two 1-row
    broadcast joins. n_cells defaults to auto_n_cells(count) ≈ sqrt(n), so
    candidate volume scales ~n^1.5 instead of n^2/const; refine_iters
    Lloyd passes balance the cells (set 0 to use raw seed centroids).

    Returns (vec_id, nn_id, cos_sim, label_match).
    """
    if n_rows is None:
        # one cheap count job; per the IVF sizing rule n_cells must grow
        # with the corpus or the per-cell self-join stays quadratic.
        # Callers that know the row count (parquet footer metadata) pass
        # n_rows and skip this job entirely (the j31 pattern).
        n_rows = embeddings.count()
    if n_cells is None:
        n_cells = auto_n_cells(n_rows)
    base = prepare_vectors(embeddings)
    # r10: sampled Lloyd fit (fit_centroids) instead of full-corpus
    # k-means — exactness NEVER depends on centroid quality (the pruning
    # bound is valid for any consistent assignment; oracle-confirmed),
    # and the full fit was 2 extra corpus passes of interpreted
    # per-row x n_cells transforms (the r10 scale audit measured the
    # same fit at 13% of j43's sf1 runtime).
    cents = fit_centroids(base, n_cells, n_rows, iters=refine_iters)
    if refine_iters > 0:
        # the refined centroid table is tiny (n_cells rows) but its lineage
        # holds refine_iters full-data aggregations and is consumed by three
        # downstream subtrees — cut so it is computed once. Measured at
        # sf0.01: a pin here ran 46 jobs against the cut's 30, and no
        # barrier 27 jobs but 1.5x the wall.
        cents = execution.cut(cents)
    assigned = assign_cells(base, cents)
    return exact_1nn_for(assigned, assigned, cents, eps=eps)


def prepare_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, emb array<double>, nrm) — the working shape every
    similarity operator consumes."""
    nrm = norm(as_double())
    return embeddings.select(
        "vec_id", "label", as_double().alias("emb"), nrm.alias("nrm")
    )


def assign_cells(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-side IVF cell assignment against a broadcast centroid array row;
    keeps the UNROUNDED sim to the chosen centroid for the radius
    computation (any consistent assignment keeps exactness)."""
    cent_row = cents.agg(
        F.collect_list(F.struct("cell_id", "centroid", "cnrm")).alias("cells")
    )
    sims = F.transform(
        F.col("cells"),
        lambda c: F.struct(
            (dot(F.col("emb"), c["centroid"]) / (F.col("nrm") * c["cnrm"])).alias(
                "sim"
            ),
            (-c["cell_id"]).alias("negid"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    best_cell = F.array_max(sims)
    return base.crossJoin(F.broadcast(cent_row)).select(
        "vec_id",
        "label",
        "emb",
        "nrm",
        best_cell["cell_id"].alias("cell_id"),
        best_cell["sim"].alias("cos_centroid"),
    )


def exact_topk_join(
    q_assigned: DataFrame,
    c_assigned: DataFrame,
    cents: DataFrame,
    k: int = 1,
    eps: float = 1e-6,
    exclude_self: bool = True,
) -> DataFrame:
    """EXACT k-NN JOIN: the top-k CORPUS neighbors of EVERY QUERY vector —
    the retrieval shape an LLM training pipeline actually runs
    (embedding-level eval decontamination, RAG retrieval, semantic dedup
    across corpora). Generalizes the 1-NN pruning bound to rank k:

    Phase 1 scores each query against its OWN cell's corpus members
    (equi-join on cell_id) and takes the query's k-th best similarity
    there as the pruning threshold; a query whose own cell holds fewer
    than k candidates gets threshold -2.0 (below min cosine — nothing is
    pruned for it, exactness preserved). Phase 2 probes only cells whose
    upper bound cos(q, c_j) + max-chord-radius_j could still beat that
    threshold: for any corpus vector p in cell j, cos(q, p) <=
    cos(q, c_j) + ||p_hat - c_j_hat|| <= cos(q, c_j) + slack_j, so a
    pruned cell provably contains no top-k member. Ranking uses the
    ROUNDED (6dp) cosine + nn_id tie-break; any candidate whose rounded
    value ties the threshold has an unrounded value within 0.5e-6 of it,
    inside the eps=1e-6 guard — so rounding can never prune a tying cell
    and the output equals brute force exactly, including tie-breaks.

    100 TB shape: equi-joins on cell_id only (shuffle keys bounded by
    n_cells, AQE skew-split handles fat cells) + two 1-row broadcast
    joins; candidate volume ~ |Q|·|C|/n_cells instead of |Q|·|C|.

    ``exclude_self=False`` for disjoint query/corpus id spaces (the k-NN
    join proper); True when queries ⊆ corpus (self-match suppressed).

    Returns (vec_id, nn_id, rank, cos_sim, label_match).
    """
    # r10: pin the assignment inputs — but ONLY in the two-sided (q != c)
    # shape: there the corpus side is typically a stored-index union
    # consumed by the slack aggregate + both candidate joins, and sharing one evaluation measured j28 28.3->15.8 s and
    # j31 15.5->11.3 s at sf0.1. In the self-join shape (exact_1nn,
    # q is c) the assignment is one narrow map-side subtree whose
    # re-evaluation is CHEAPER than the cache round-trips — persisting
    # it measured j4 51->74 s — so it stays unpinned there. A pin, not
    # a cut: plan construction must stay job-free (the j31 zero-jobs
    # test), and a checkpointed branch inside the final union trips
    # Catalyst's union-constraint rewrite.
    two_sided = q_assigned is not c_assigned
    if two_sided:
        c_assigned = execution.pin(c_assigned)
        q_assigned = execution.pin(q_assigned)
    assigned = c_assigned
    # r10 (guide §2.5): the candidate streams below carry little DATA but
    # heavy PER-ROW compute (Arrow pair scoring over |Q|·|C|/n_cells
    # pairs). AQE's byte-based coalescing collapsed them to 1-2 tasks at
    # bench scale (UI: one 2-task stage held 23 of j4's 39 s), so the
    # expensive map chains pin an EXPLICIT partition count — scale-
    # adaptive (r11: max(cores, configured shuffle width) so the pin can
    # never DOWNSIZE a wide stream at scale — see execution.width), and an
    # explicit numPartitions exchange is exempt from AQE coalescing by
    # design.
    par = execution.width(q_assigned.sparkSession)
    # per-cell radius in unit-sphere chord distance: ||p_hat - c_hat|| =
    # sqrt(2 - 2 cos(p, c)); greatest() guards FP dips below zero.
    slack = assigned.groupBy("cell_id").agg(
        F.max(
            F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - F.lit(2.0) * F.col("cos_centroid")))
        ).alias("slack")
    )
    cells_meta_row = (
        cents.join(slack, "cell_id")
        .agg(
            F.collect_list(
                F.struct("cell_id", "centroid", "cnrm", "slack")
            ).alias("cells")
        )
    )
    a = q_assigned.repartition(par, "cell_id").alias("a")
    b = c_assigned.repartition(par, "cell_id").alias("b")
    own_cond = F.col("a.cell_id") == F.col("b.cell_id")
    if exclude_self:
        own_cond = own_cond & (F.col("a.vec_id") != F.col("b.vec_id"))
    # r10: Arrow-vectorized pair scoring (guide §4.2) — see pair_dot.
    pair_cos = F.round(
        _dot_sql("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    # phase-1 pairs feed the pruning threshold AND the final union;
    # pinned in the two-sided shape only (same measurement as above: a
    # win for the stored-index keys, a net cost for exact_1nn)
    own_pairs = a.join(b, own_cond).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label_a"),
        F.col("b.vec_id").alias("nn_id"),
        F.col("b.label").alias("label_b"),
        pair_cos.alias("cos_sim"),
    )
    if two_sided:
        own_pairs = execution.pin(own_pairs)
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nn_id").asc()
    )
    # k-th best own-cell similarity = the pruning threshold. min over the
    # top-k window rows; a query with < k own-cell candidates keeps -2.0.
    bestk = (
        own_pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("vec_id")
        .agg(F.min("cos_sim").alias("bestk"), F.count(F.lit(1)).alias("own_cnt"))
        .select(
            "vec_id",
            F.when(F.col("own_cnt") >= k, F.col("bestk"))
            .otherwise(F.lit(-2.0))
            .alias("bestk"),
        )
    )
    probes = (
        q_assigned.join(bestk, "vec_id", "left")
        # an empty own cell has no phase-1 candidates: -2.0 < min cosine,
        # so every other cell stays probed and the result is still exact.
        .withColumn("bestk", F.coalesce("bestk", F.lit(-2.0)))
        # spread the per-query x n_cells bound computation + explode +
        # downstream probe scoring (see the `par` note above)
        .repartition(par)
        .crossJoin(F.broadcast(cells_meta_row))
        .select(
            "vec_id",
            F.col("label").alias("label_a"),
            "emb",
            "nrm",
            F.col("cell_id").alias("own_cell"),
            F.explode(
                F.filter(
                    F.col("cells"),
                    lambda c: (c["cell_id"] != F.col("cell_id"))
                    & (
                        dot(F.col("emb"), c["centroid"]) / (F.col("nrm") * c["cnrm"])
                        + c["slack"]
                        >= F.col("bestk") - F.lit(eps)
                    ),
                )["cell_id"]
            ).alias("probe_cell"),
        )
    )
    p = probes.alias("p")
    probe_cond = F.col("p.probe_cell") == F.col("b.cell_id")
    if exclude_self:
        probe_cond = probe_cond & (F.col("p.vec_id") != F.col("b.vec_id"))
    probe_cos = F.round(
        _dot_sql("p.emb", "b.emb") / (F.col("p.nrm") * F.col("b.nrm")),
        6,
    )
    probe_pairs = p.join(b, probe_cond).select(
        F.col("p.vec_id").alias("vec_id"),
        F.col("p.label_a").alias("label_a"),
        F.col("b.vec_id").alias("nn_id"),
        F.col("b.label").alias("label_b"),
        probe_cos.alias("cos_sim"),
    )
    return (
        own_pairs.unionByName(probe_pairs)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "vec_id",
            "nn_id",
            F.col("rn").cast("long").alias("rank"),
            "cos_sim",
            (F.col("label_a") == F.col("label_b")).alias("label_match"),
        )
    )


def exact_1nn_for(
    q_assigned: DataFrame,
    c_assigned: DataFrame,
    cents: DataFrame,
    eps: float = 1e-6,
) -> DataFrame:
    """EXACT 1-NN of every QUERY vector over the CORPUS — the incremental
    form of exact_1nn (queries ⊆ corpus assigned against the SAME cents;
    with q == c this is the full all-pairs operator). The k=1
    specialization of exact_topk_join; same pruning proof.
    Returns (vec_id, nn_id, cos_sim, label_match)."""
    return exact_topk_join(
        q_assigned, c_assigned, cents, k=1, eps=eps, exclude_self=True
    ).drop("rank")


def ann_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: probe the n_probe cells nearest the query, exact
    cosine re-rank inside them. Returns (vec_id, label, cos_sim)."""
    assigned = ivf_assign(embeddings, n_cells)
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        as_double().alias("qe")
    )
    # rank cells by centroid similarity to the query
    centroids = (
        embeddings.orderBy("vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"), as_double().alias("centroid"))
    )
    probe_cells = [
        r.cell_id
        for r in centroids.crossJoin(F.broadcast(q))
        .select(
            "cell_id",
            F.round(cosine(F.col("centroid"), F.col("qe")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("cell_id").asc())
        .limit(n_probe)
        .collect()  # n_probe cell ids only — driver-side list is bounded
    ]
    cos = F.round(cosine(as_double(), F.col("qe")), 6)
    return (
        assigned.filter(
            F.col("cell_id").isin(probe_cells) & (F.col("vec_id") != query_vec_id)
        )
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def fit_centroids(
    base: DataFrame,
    n_cells: int,
    n_rows_est: int,
    sample_per_cell: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Centroid fit on a DETERMINISTIC hash-sample of ~sample_per_cell
    rows per cell: Lloyd cost drops from O(n·c·iters) to
    O(c·sample·iters) — constant per cell, LINEAR overall when
    c ~ sqrt(n) — and callers' exactness never depends on centroid
    quality (assignment and the pair/probe bounds are exact for ANY
    centroids), so sampling is purely a fit-cost cap. The r10 scale
    audit caught full-corpus Lloyd at 126 s of j43's sf1 runtime."""
    target = max(n_cells * sample_per_cell, n_cells + 1)
    k = max(1, n_rows_est // target)
    sample = (
        base.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(k)) == 0)
        if k > 1
        else base
    )
    return _refine_centroids(sample, n_cells, iters)


def threshold_pair_join(
    assigned: DataFrame,
    tau: float,
    eps: float = 1e-6,
) -> DataFrame:
    """EXACT cosine-threshold self-join: ALL unordered pairs with
    round(cos, 6) >= tau — embedding-level near-duplicate detection as a
    similarity JOIN (the epsilon-neighborhood companion of the top-k join
    above; SemDeDup-style semantic dedup runs exactly this shape).

    Pruning is at the CELL-PAIR level, and provably lossless: for unit
    vectors, cos(x, y) >= tau implies chord ||x_hat - y_hat|| <= delta =
    sqrt(2 - 2*(tau - eps)) (eps absorbs the 6dp rounding of the emitted
    similarity), and by the triangle inequality on the unit sphere
    chord(c_a, c_b) <= slack_a + delta + slack_b for the two members'
    cells (slack = the cell's max member-to-centroid chord). Any cell
    pair violating that bound cannot contain a qualifying pair and is
    never joined. Surviving candidates are re-scored with the exact
    rounded cosine, so output == brute force exactly.

    100 TB shape: the cell-pair bound is evaluated on the n_cells^2
    centroid table (tiny, broadcast nested-loop by design); corpus-scale
    movement is ONE equi-join keyed on (cell_id, band) per side (bounded
    key space, AQE skew-split). With clustered data delta is small and
    the surviving cell-pair list collapses toward the diagonal; on
    ISOTROPIC high-dim corpora — where cell geometry is blind (every
    member sits ~90° from its centroid, slack ~ sqrt(2), every cell
    pair admitted; the r10 scale audit measured 804M candidate cosines
    at 40k vectors) — two further EXACT per-pair tiers prune:

    - RANDOM-PROJECTION GRID KEY: for any direction p,
      |p·(x̂ - ŷ)| <= ||p||·chord(x̂, ŷ) <= ||p||·delta for a
      qualifying pair, so the band index floor((p·x̂)/(||p||·delta))
      of the two members differs by AT MOST 1 per projection. Five
      projections form a grid key; the join is an EQUI join on it with
      a constant 3^5-combo probe on one (slim) side, so candidate
      volume divides by the number of occupied grid cells with zero
      false negatives. (A dense near-dup cluster lands in one grid
      cell, so the grid subsumes the IVF-cell equi key for
      enumeration.)
    - GUARD PROJECTIONS: four further |Δ(p·x̂)| <= ||p||·delta scalar
      checks kill most surviving non-pairs before the full d-dim
      cosine.

    ``assigned`` needs only (vec_id, emb, nrm) — prepare_vectors output
    is enough. Returns (vec_a, vec_b, cos_sim) with vec_a < vec_b.
    """
    delta = math.sqrt(max(0.0, 2.0 - 2.0 * (tau - eps)))
    # pin the assignment (the nn_descent lesson): `assigned` feeds FOUR
    # subtrees below (both slim join sides, both fat verify sides) —
    # measured r10 at sf0.1, the j37 plan carried 88 Exchanges /
    # 21 SortMergeJoins (≈5 evaluations of the pipeline) before pinning.
    # A pin, not a cut: keeps plan construction job-free under AQE.
    # r10: pin ONLY (vec_id, emb, nrm) — pair
    # enumeration is keyed on the projection grid and verify needs just
    # the vectors, so materializing the cell_id/cos_centroid columns
    # (the interpreted per-row x n_cells centroid transform) was pure
    # waste here. The centroid-pair bound remains the scale ARGUMENT
    # for clustered data (built and pinned independently by
    # test_cell_pair_pruning_bites_on_clustered_data); the grid subsumes
    # it for enumeration: a dense cluster lands in one grid cell either
    # way, and the grid keeps pruning where cells are geometrically
    # blind.
    assigned = execution.pin(assigned.select("vec_id", "emb", "nrm"))

    from functools import reduce as _reduce
    from itertools import product as _product

    # n_guard=8 was measured r10 (warm j43 24 s -> 37 s): the extra guard
    # columns widen every probe row 243x and the join-condition work over
    # the pre-guard pair stream outweighs the verify savings. 4 stands.
    n_key, n_guard = 5, 4

    # r10 (guide §1.2 step 2, per-task work): the projections were
    # higher-order `aggregate(transform(emb, ...sin...))` expressions —
    # HOFs are CodegenFallback (interpreted), and the coefficient AND its
    # norm were recomputed per ROW (64 sin() calls per projection per row,
    # 9 projections). The directions are fixed per seed, so compute the
    # coefficients and their norm ONCE in Python and emit a flat
    # whole-stage-codegen'd multiply-add chain over element gets.
    # Correctness is unaffected by the change of evaluation (and would be
    # unaffected even by different directions): the verify tier rescored
    # with the exact cosine is what produces output values, and the
    # band/guard bound |p·(x̂-ŷ)| <= ||p||*delta holds for ANY fixed p.
    # Width note: the direction has support on the first _PROJ_WIDTH
    # components (F.get returns NULL past the end -> coalesce 0). For
    # inputs of dim < width this zero-pads p (exact); for dim > width the
    # bound still holds (|p·v| <= ||p||*||v|| needs no support condition)
    # — only pruning power degrades, never correctness. Pinned by
    # test_threshold_pairs.py brute-force equality at dim 16 and 64.
    # Built as ONE SQL string per projection (F.expr): composing the
    # 64-term chain Column-by-Column cost ~5000 py4j round-trips — 60+ s
    # of pure DRIVER plan-construction latency (measured r10); the JVM
    # parses the same tree from one string in milliseconds. CAST(repr AS
    # DOUBLE) round-trips every coefficient bit-exactly (repr is the
    # shortest round-tripping decimal; parse-to-decimal then cast is
    # correctly rounded).
    def _tproj(seed):
        cs, pn = _proj_coeffs(seed)
        terms = " + ".join(
            f"(coalesce(get(emb, {i}), 0.0D) * CAST({c!r} AS DOUBLE))"
            for i, c in enumerate(cs)
        )
        return F.expr(f"({terms})") / (F.col("nrm") * F.lit(pn))

    # SLIM-PROBE / FAT-VERIFY split: candidate enumeration runs on slim
    # rows (vec_id + band indices + guard scalars — no embedding), so
    # the constant 3^n_key probe fanout and the grid-key shuffle move
    # ~100-byte rows; only guard SURVIVORS re-join the embedding table
    # for the exact d-dim cosine. n_key=5 spreads the key space ~8^5
    # ways, so the Gaussian pile-up of projections near 0 cannot
    # concentrate enumeration on a few straggler tasks.
    # pinned: slim feeds both sides of the grid-key join, and its 9
    # interpreted projection aggregates per row would re-run per side
    slim = execution.pin(assigned.select(
        "vec_id",
        *[
            F.floor(_tproj(j) / F.lit(delta)).cast("long").alias(f"_gb{j}")
            for j in range(n_key)
        ],
        *[_tproj(n_key + j).alias(f"_gt{j}") for j in range(n_guard)],
    ))
    b = slim.alias("b")
    # per qualifying pair the band indices differ by at most 1 PER
    # PROJECTION, so probing all 3^n_key adjacent grid cells on one
    # side makes the enumeration an EQUI join with zero false negatives
    # The probe side explodes a row-INDEPENDENT array of 3^n_key offset
    # structs (one F.expr — plan-construction py4j latency; built per-row
    # as band+offset structs it was ~1500 driver round-trips AND a
    # generated explode method too large for Janino, so the whole stage
    # fell back to interpreted eval). Constant-folding turns this array
    # into a single Literal; the band+offset adds run as a normal
    # codegen'd projection after the explode.
    offsets = F.expr(
        "array("
        + ", ".join(
            "named_struct("
            + ", ".join(f"'d{j}', {d[j]}L" for j in range(n_key))
            + ")"
            for d in _product((-1, 0, 1), repeat=n_key)
        )
        + ")"
    )
    a_exp = (
        slim.withColumn("_pb", F.explode(offsets))
        .select(
            "vec_id",
            *[F.col(f"_gt{j}") for j in range(n_guard)],
            *[
                (F.col(f"_gb{j}") + F.col("_pb")[f"d{j}"]).alias(f"_pb{j}")
                for j in range(n_key)
            ],
        )
        .alias("a")
    )
    key_cond = _reduce(
        lambda x, y: x & y,
        [F.col(f"b._gb{j}") == F.col(f"_pb{j}") for j in range(n_key)],
    )
    # guard projections: scalar |Δt| <= delta checks that kill most
    # surviving non-pairs BEFORE any embedding is touched
    guard_cond = _reduce(
        lambda x, y: x & y,
        [
            F.abs(F.col(f"a._gt{j}") - F.col(f"b._gt{j}")) <= F.lit(delta)
            for j in range(n_guard)
        ],
    )
    cand = a_exp.join(
        b,
        key_cond
        # each unordered pair appears once: both orders satisfy the
        # grid adjacency, the id constraint keeps (min, max)
        & (F.col("a.vec_id") < F.col("b.vec_id"))
        & guard_cond,
    ).select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
    )
    # r11 measured and REJECTED (VERDICT r10 item 5): verify-side guard
    # projections — 4 extra directions computed per VECTOR and applied to
    # the candidate stream before the exact cosine, in two variants:
    # (a) carried on the fat side with a post-join filter — Catalyst
    # merges every conjunct into the last join's condition with the
    # 64-term cosine evaluated FIRST, so the guards cost extra without
    # saving (j43 one-shot 9.75 -> 15.9 s); (b) attached via their own
    # narrow broadcast joins ahead of the embedding joins (data
    # dependency forces guard-first order) — still SLOWER (12.3 s in the
    # round-start key order): the one-shot cost here is dominated by
    # JIT/codegen of the added 64-term projection expressions, not by
    # the ~642k-row verify scoring they would prune (the survivors of
    # the 4 probe-side guards are biased to pass further random
    # directions, so the kill rate is low). The r10 shape stands.
    fat = assigned.select("vec_id", "emb", "nrm")
    va, vb = fat.alias("va"), fat.alias("vb")
    pair_cos = F.round(
        _dot_sql("va.emb", "vb.emb")
        / (F.col("va.nrm") * F.col("vb.nrm")),
        6,
    )
    # r10 (guide §2.5): the candidate list carries few bytes but the
    # verify join + exact rescoring behind it is the operator's CPU
    # center; AQE's byte-based coalescing collapsed it onto 1-2 tasks at
    # bench scale. Pin an explicit scale-adaptive partition count
    # (r11: max(cores, configured shuffle width) — see execution.width);
    # explicit numPartitions exchanges are exempt from AQE coalescing.
    par = execution.width(cand.sparkSession)
    # r11 (guide §1.2 step 2): score ONCE, filter behind a pin. A plain
    # filter-after-project is re-merged by predicate pushdown into the
    # last join's condition, so the 64-term rounded cosine was COMPILED
    # twice (two giant generated methods — the one-shot cost of this
    # operator is dominated by Janino/JIT of exactly these expressions)
    # and re-evaluated for every survivor. The cached relation is a plan
    # barrier keeping ONE compiled copy and one evaluation per candidate
    # (3 scalars/row). A pin, not a cut: the stream is unbounded at
    # scale, so it keeps its lineage and spills to disk, and the build
    # runs no job. In the plan the scored stream is an
    # `InMemoryTableScan` over the join tree.
    scored = execution.pin(
        cand.repartition(par)
        .join(va, F.col("vec_a") == F.col("va.vec_id"))
        .join(vb, F.col("vec_b") == F.col("vb.vec_id"))
        .select("vec_a", "vec_b", pair_cos.alias("cos_sim"))
    )
    return scored.filter(F.col("cos_sim") >= F.lit(tau))


def pca_whiten_params(embeddings: DataFrame, q: int = 4):
    """Distributed PCA fit: (mean, W, eigvals, n) where W is the d x q
    whitening projection — top-q unit eigenvectors of the population
    covariance, each scaled by 1/sqrt(eigenvalue), sign-fixed so every
    component's max-|loading| entry is positive (engine-independent
    determinism; numpy eigh's sign is otherwise arbitrary).

    The fit is ONE distributed pass: mapInPandas emits per-batch partial
    (n, sum, Gram) statistics as (idx, val) rows — 1 + d + d^2 rows per
    batch, d=64 -> 4161 — which one hash aggregate sums and the driver
    collects (the treeAggregate shape: driver traffic is O(d^2),
    independent of corpus size). Covariance, eigendecomposition and
    whitening are O(d^3) driver math on a 64x64 matrix. At 100 TB the
    corpus pays exactly one scan; the projection that consumers apply is
    pure map work against broadcast-literal component vectors (JVM
    higher-order functions, no Python in the hot path).

    CONSTRUCTION runs the stats job (data-dependent driver math — same
    adjudication as n12/pagerank); callers wanting a lazy handle persist
    the params, j31's persisted-index pattern.
    """
    import numpy as np

    def gram_partial(batches):
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            gg = m.T @ m
            g = gg if g is None else g + gg
        if n == 0:
            return
        d = s.shape[0]
        idx = np.concatenate(
            [[0], np.arange(1, d + 1), np.arange(d + 1, d + 1 + d * d)]
        )
        val = np.concatenate([[float(n)], s, g.ravel()])
        yield pd.DataFrame({"idx": idx.astype(np.int64), "val": val})

    base = embeddings.select(as_double("embedding").alias("emb"))
    sums = (
        base.mapInPandas(gram_partial, "idx long, val double")
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
        # bounded: O(dim^2/2) Gram entries (embedding dim is small)
        .collect()
    )
    vals = {r.idx: r.val for r in sums}
    max_idx = max(vals)
    d = int((-1 + math.isqrt(1 + 4 * max_idx)) // 2)
    n = int(round(vals[0]))
    s = np.array([vals[i] for i in range(1, d + 1)])
    g = np.array([vals[i] for i in range(d + 1, d + 1 + d * d)]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:q]
    top_vals = eigvals[order]
    top_vecs = eigvecs[:, order]
    for j in range(top_vecs.shape[1]):
        if top_vecs[np.argmax(np.abs(top_vecs[:, j])), j] < 0:
            top_vecs[:, j] = -top_vecs[:, j]
    w = top_vecs / np.sqrt(np.maximum(top_vals, 1e-12))
    return mean, w, top_vals, n


# --- Product quantization (IVF-PQ's memory tier; VERDICT r6 item 5) ------------------
#
# PQ is the rung of the similarity ladder between int8 scalar quantization
# (j41) and raw vectors: split each L2-NORMALIZED vector into m subvectors,
# learn a kc-centroid k-means codebook PER SUBSPACE, store each vector as m
# small codes (m bytes at kc<=256 vs 8*dim raw — 64x smaller at dim=64).
# Queries score candidates with ADC (asymmetric distance computation): the
# query precomputes an m x kc lookup table of exact subspace dot products,
# so a candidate's approximate cosine is m table lookups + adds — pure JVM
# array ops over the broadcast-literal LUT, no Python, no shuffle. An
# exact re-rank of the PQ top-C repairs quantization error (recall is
# property-tested against the j3 exact anchor in tests/test_pq.py; with
# C >= corpus the result is EXACTLY the brute-force top-k).
#
# Determinism: seeds are the kc lowest-vec_id vectors' subvectors (the IVF
# seed rule — no RNG), Lloyd refinement is deterministic given seeds, and
# argmin tie-breaks on code id. Fit cost: iters passes over an exploded
# (n*m)-row subvector frame with map-side-combinable means; codebooks stay
# m*kc rows (driver-sized by construction, like IVF centroids).


def _pq_l2(a: Column, c: Column) -> Column:
    """Squared L2 distance of two array<double> columns (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def _unit(emb: Column | str = "emb", nrm: Column | str = "nrm") -> Column:
    e = F.col(emb) if isinstance(emb, str) else emb
    n = F.col(nrm) if isinstance(nrm, str) else nrm
    return F.transform(e, lambda x: x / n)


def _pq_best_code(cb: Column, sub_id: Column, subv: Column) -> Column:
    """argmin_code L2(subv, centroid) within one subspace of the broadcast
    codebook array; ties break on the smaller code id (array_min over
    struct<d, code>)."""
    cand = F.filter(cb, lambda e: e["sub_id"] == sub_id)
    return F.array_min(
        F.transform(
            cand,
            lambda e: F.struct(
                _pq_l2(subv, e["centroid"]).alias("d"),
                e["code"].alias("code"),
            ),
        )
    )["code"]


def pq_fit(
    base: DataFrame, dim: int, m: int = 8, kc: int = 16, iters: int = 4
) -> DataFrame:
    """Learn per-subspace PQ codebooks: (sub_id, code, centroid) with
    sub_id in [0, m), code in [0, kc), centroid array<double> of dim/m.

    Seeds = the kc lowest-vec_id unit vectors' subvectors (bounded
    kc-row driver collect, the IVF-seed adjudication); each Lloyd round
    is one map-side assignment against the broadcast codebook row plus
    one (sub_id, code, pos) mean — both shuffles carry <= m*kc*d_sub
    reduced rows. Codes whose cluster empties keep their previous
    centroid (the _refine_centroids rule)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m
    spark = base.sparkSession
    seed_rows = (
        # bounded: limit(kc) codebook seeds
        base.orderBy("vec_id").limit(kc).select("emb", "nrm").collect()
    )
    if not seed_rows:
        raise ValueError("pq_fit on an empty vector table")
    seeds = []
    for code, r in enumerate(seed_rows):
        u = [x / r.nrm for x in r.emb]
        for s in range(m):
            seeds.append((s, code, u[s * d_sub:(s + 1) * d_sub]))
    codebooks = spark.createDataFrame(
        seeds, "sub_id int, code int, centroid array<double>"
    )
    subs = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub_id"),
                    F.slice(_unit(), s * d_sub + 1, d_sub).alias("subv"),
                ),
            )
        ).alias("sv")
    ).select("sv.sub_id", "sv.subv")
    for _ in range(iters):
        cb_row = codebooks.agg(
            F.collect_list(F.struct("sub_id", "code", "centroid")).alias("cb")
        )
        assigned = subs.crossJoin(F.broadcast(cb_row)).select(
            "sub_id",
            _pq_best_code(
                F.col("cb"), F.col("sub_id"), F.col("subv")
            ).alias("code"),
            "subv",
        )
        # Exact-decimal mean (the _fp.py C3 rule): a double avg is
        # partition-order-dependent, which would make the fitted
        # codebooks vary with input partitioning; summing DECIMAL(38,18)
        # truncations is exact and order-free, so the fit is
        # bit-deterministic (pinned by test_pq.py under repartition).
        means = (
            assigned.select(
                "sub_id", "code", F.posexplode("subv").alias("pos", "v")
            )
            .groupBy("sub_id", "code", "pos")
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,18)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("mv")
            )
            .groupBy("sub_id", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda st: st["mv"],
                ).alias("mean")
            )
        )
        codebooks = execution.cut(  # m*kc rows; caps per-round lineage
            codebooks.join(means, ["sub_id", "code"], "left").select(
                "sub_id",
                "code",
                F.coalesce("mean", "centroid").alias("centroid"),
            ),
            eager=True,
        )
    return codebooks


def pq_encode(
    base: DataFrame, codebooks: DataFrame, dim: int, m: int = 8
) -> DataFrame:
    """base + codes array<int> (length m) — map-side encoding against the
    broadcast codebook row; no shuffle."""
    d_sub = dim // m
    cb_row = codebooks.agg(
        F.collect_list(F.struct("sub_id", "code", "centroid")).alias("cb")
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_best_code(
            F.col("cb"),
            s.cast("int"),
            F.slice(_unit(), s * d_sub + 1, d_sub),
        ).cast("int"),
    )
    return base.crossJoin(F.broadcast(cb_row)).select(
        "vec_id", "label", "emb", "nrm", codes.alias("codes")
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    kc: int = 16,
    iters: int = 4,
    rerank: int = 64,
) -> DataFrame:
    """(rank, vec_id, label, approx_sim, cos_sim) — PQ-ADC top-`rerank`
    candidates, exact-cosine re-ranked to the final top-k.

    The candidate scan is code-only work: approx cosine = m LUT lookups
    folded JVM-side (the literal m x kc LUT constant-folds into the scan
    stage, the j3 literal-query trick); TakeOrderedAndProject keeps the
    top-C without a global sort. Only the C re-rank candidates ever touch
    raw vectors. CONSTRUCTION fits/encodes (bounded collects: kc seeds,
    m*kc codebook rows, 1 query row — the n12/j45 adjudication);
    production persists codebooks + codes like j28 persists its index."""
    base = prepare_vectors(embeddings)
    qrow = base.filter(F.col("vec_id") == query_vec_id).select(
        "emb", "nrm"
        # bounded: 1-row query-vector lookup
    ).collect()[0]
    dim = len(qrow.emb)
    codebooks = pq_fit(base, dim, m=m, kc=kc, iters=iters)
    enc = pq_encode(
        base.filter(F.col("vec_id") != query_vec_id), codebooks, dim, m=m
    )
    d_sub = dim // m
    qu = [x / qrow.nrm for x in qrow.emb]
    # ADC lookup table: exact subspace dot products of the query against
    # every codeword — m x kc python floats, inlined as a literal.
    # bounded: m x kc codewords (driver-sized PQ codebook)
    cb = {(r.sub_id, r.code): r.centroid for r in codebooks.collect()}
    lut = [
        [
            sum(
                qu[s * d_sub + j] * cb[(s, c)][j] for j in range(d_sub)
            )
            for c in range(kc)
        ]
        for s in range(m)
    ]
    lut_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in lut]
    )
    idx = F.sequence(F.lit(1), F.lit(m))
    approx = F.aggregate(
        F.transform(
            idx,
            lambda i: F.element_at(
                F.element_at(lut_lit, i.cast("int")),
                (F.element_at(F.col("codes"), i.cast("int")) + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    cand = (
        enc.select("vec_id", "label", "emb", "nrm", approx.alias("approx"))
        .orderBy(F.col("approx").desc(), F.col("vec_id").asc())
        .limit(rerank)
    )
    qe = F.array(*[F.lit(float(x)) for x in qrow.emb])
    cos = F.round(dot(F.col("emb"), qe) / (F.col("nrm") * F.lit(float(qrow.nrm))), 6)
    ranked = (
        cand.select(
            "vec_id",
            "label",
            (F.round(F.col("approx"), 6) + F.lit(0.0)).alias("approx_sim"),
            (cos + F.lit(0.0)).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        "label",
        "approx_sim",
        "cos_sim",
    )


def nn_descent(
    embeddings: DataFrame,
    k: int = 10,
    rounds: int = 2,
    n_cells: int | None = None,
    n_rows: int | None = None,
    k_build: int | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH construction via NN-Descent (Dong,
    Charikar, Li — WWW 2011): start from a cheap neighbor guess and
    iterate "my neighbors' neighbors are probably my neighbors". This is
    the graph-based rung of the similarity ladder (the distributable
    counterpart of HNSW, whose insert loop is inherently sequential):
    the k-NN graph is what SemDeDup-style clustering, NN-chain agglomer-
    ation, and graph-ANN serving all consume.

    Determinism (hash-gate discipline): init unions two candidate
    signals — (a) the IVF cell assignment (deterministic seed centroids,
    pairs within a cell) for LOCAL quality, and (b) hash-salted random
    buckets (md5(salt:vec_id) mod n/6, all pairs within a bucket, 3
    salts) for EXPLORATION, the deterministic stand-in for the paper's
    random-graph init. (b) is not optional: a pure cell init is a union
    of cliques, which is a FIXED POINT of neighbor-of-neighbor expansion
    (2-hop never leaves a clique), so descent cannot cross cells at all
    — measured on the fixture corpus, recall froze at the init value
    without it. Every round then scores the candidate set {current
    edges} ∪ {2-hop pairs over the symmetrized graph} and keeps the
    top-k per node by (rounded-6dp cosine DESC, id ASC). No RNG — the
    output is a pure function of the vector set, invariant to
    partitioning (pinned by unit test).

    Scale shape per round: the symmetrized edge list B has ≤ 2k rows per
    node, so the 2-hop self-join fans out to ≤ (2k)^2 candidates per
    node — O(n·k²) candidate volume per round, never O(n²); all joins
    are equi-joins on vec ids (shuffle-partitioned, AQE-splittable), and
    scoring is the same JVM fold every other similarity operator uses.
    Each round's graph is cut (execution.cut) so plan depth stays
    O(1) in rounds. At 100 TB the published refinements apply unchanged
    (sample ρ·k of each neighborhood per round, mark-new-only): they
    bound candidate volume, not the join shape. Convergence on the
    fixture corpus (near-uniform random vectors — NN-Descent's hardest
    regime): recall@10 ≈ 0.94 after 2 rounds, ≈ 0.99 after 3 (pinned by
    tests/test_nn_descent.py against exact_topk_join's brute-force-
    equal output).

    Returns (vec_id, nn_id, rank, cos_sim) — rank 1..k per vec_id.
    COVERAGE GUARANTEE (n >= 2): every vector owns at least one
    neighbor row — a vector isolated by both init signals is paired
    with the lowest other vec_id before descent
    (tests/test_nn_descent.py pins the n=2 degenerate corpus), so
    callers never see a silently missing neighbor list. An n=1 corpus
    has no possible neighbor at all (the anchor pairing would be the
    vector with itself), so it is refused explicitly rather than
    returning an empty graph that contradicts the guarantee (ADVICE
    r8).
    """
    from pyspark.sql import Window

    if n_cells is None or n_rows is None:
        n = embeddings.count()
        n_cells = n_cells if n_cells is not None else auto_n_cells(n)
        n_rows = n_rows if n_rows is not None else n
    if n_rows < 2:
        raise ValueError(
            f"nn_descent needs >= 2 vectors (got {n_rows}): a k-NN graph "
            "over a single vector has no edges to return"
        )
    base = prepare_vectors(embeddings)
    cents = _refine_centroids(base, n_cells, iters=0)
    # cut the cell assignment: its interpreted transform over the
    # broadcast centroid row would otherwise re-evaluate once for vecs
    # and once per side of the cell_pairs self-join, in every round.
    # Measured at sf0.01 (j49): 35 jobs with the cut, 63 with a pin,
    # 50 with no barrier.
    assigned = execution.cut(assign_cells(base, cents))
    vecs = assigned.select("vec_id", "emb", "nrm")

    # build with a wider internal degree, report only the top k: on
    # weakly structured data the k-graph converges to a local optimum
    # (hubness starves low-degree regions of candidates); the standard
    # remedy is k_build ≈ 2k during descent, truncate at the end.
    kb = k_build if k_build is not None else 2 * k

    def _topk(pairs: DataFrame) -> DataFrame:
        w = Window.partitionBy("v").orderBy(
            F.col("cos_sim").desc(), F.col("u").asc()
        )
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= kb)
            .select("v", "u", "cos_sim")
        )

    # scale-adaptive scoring-join strategy: below ~100k vectors the
    # (id, emb, nrm) table is at most a few tens of MB framed (64-dim
    # doubles), so broadcasting it keeps the O(n·k²) candidate stream
    # map-side for BOTH attach joins — 2 fewer corpus-candidate
    # shuffles per round. Above that, fall back to shuffle equi-joins
    # (the 100 TB shape; AQE skew-splits them). n_rows is exact here —
    # the caller passes it or we counted it above.
    bcast_vecs = n_rows <= 100_000

    def _score(cand: DataFrame) -> DataFrame:
        e1 = vecs.select(
            F.col("vec_id").alias("v"),
            F.col("emb").alias("emb_v"),
            F.col("nrm").alias("nrm_v"),
        )
        e2 = vecs.select(
            F.col("vec_id").alias("u"),
            F.col("emb").alias("emb_u"),
            F.col("nrm").alias("nrm_u"),
        )
        if bcast_vecs:
            e1, e2 = F.broadcast(e1), F.broadcast(e2)
        cos = F.round(
            _dot_sql("emb_v", "emb_u")
            / (F.col("nrm_v") * F.col("nrm_u")),
            6,
        )
        # r10 (guide §2.5): the candidate pair stream is byte-tiny but
        # scoring it is the round's CPU center; pin scale-adaptive
        # parallelism so AQE's byte heuristic can't serialize it
        # (r11: bounded below by the configured shuffle width too).
        par = execution.width(cand.sparkSession)
        return (
            cand.repartition(par)
            .join(e1, "v")
            .join(e2, "u")
            .select("v", "u", cos.alias("cos_sim"))
        )

    a, b = assigned.alias("a"), assigned.alias("b")
    cell_pairs = a.join(
        b,
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("v"),
        F.col("b.vec_id").alias("u"),
    )
    # deterministic random-graph init: 3 hash salts, ~6 vectors/bucket
    n_buckets = max(2, n_rows // 6)
    ids = vecs.select(F.col("vec_id"))
    rand_pairs = None
    for salt in (1, 2, 3):
        bucket = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("vec_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long") % n_buckets
        bx = ids.select("vec_id", bucket.alias("bkt"))
        p = (
            bx.alias("x")
            .join(bx.alias("y"), F.col("x.bkt") == F.col("y.bkt"))
            .filter(F.col("x.vec_id") != F.col("y.vec_id"))
            .select(
                F.col("x.vec_id").alias("v"), F.col("y.vec_id").alias("u")
            )
        )
        rand_pairs = p if rand_pairs is None else rand_pairs.union(p)
    init = cell_pairs.union(rand_pairs)
    # coverage guarantee: a vector alone in its IVF cell AND alone in
    # all three hash buckets would otherwise enter descent with ZERO
    # candidates and silently vanish from the returned graph. Pair any
    # such isolated vector with the globally-lowest other vec_id (a
    # deterministic 1-row broadcast) so every vector owns >= 1 edge and
    # descent can improve it from there.
    anchor = (
        vecs.orderBy("vec_id")
        .limit(2)
        .agg(F.min("vec_id").alias("lo1"), F.max("vec_id").alias("lo2"))
    )
    isolated = (
        ids.join(init.select(F.col("v").alias("vec_id")).distinct(),
                 "vec_id", "left_anti")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("vec_id").alias("v"),
            # the anchor itself falls back to the SECOND-lowest id
            F.when(F.col("vec_id") == F.col("lo1"), F.col("lo2"))
            .otherwise(F.col("lo1"))
            .alias("u"),
        )
        .filter(F.col("v") != F.col("u"))
    )
    g = execution.cut(_topk(_score(init.union(isolated).distinct())))

    for _ in range(rounds):
        edges = g.select("v", "u")
        sym = edges.union(
            edges.select(F.col("u").alias("v"), F.col("v").alias("u"))
        ).distinct()
        two_hop = (
            sym.alias("x")
            .join(sym.alias("y"), F.col("x.u") == F.col("y.v"))
            .select(F.col("x.v").alias("v"), F.col("y.u").alias("u"))
            .filter(F.col("v") != F.col("u"))
        )
        cand = two_hop.union(edges).distinct()
        g = execution.cut(_topk(_score(cand)))

    w_final = Window.partitionBy("v").orderBy(
        F.col("cos_sim").desc(), F.col("u").asc()
    )
    return (
        g.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("v").alias("vec_id"),
            F.col("u").alias("nn_id"),
            "rank",
            "cos_sim",
        )
    )


def graph_beam_search(
    embeddings: DataFrame,
    graph: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = 16,
    hops: int = 3,
) -> DataFrame:
    """(rank, vec_id, label, cos_sim) — BEAM SEARCH over a prebuilt
    k-NN graph (the nn_descent output): the HNSW-style query rung of
    the ANN ladder. IVF/PQ probe by geometry; a graph search walks
    "neighbors of good candidates are good candidates": start from a
    deterministic entry set (the `beam` lowest vec_ids — no RNG, stable
    across runs), score exactly against the query, and for `hops`
    rounds expand the current best `beam` nodes one edge outward over
    the SYMMETRIZED graph, keeping the best `beam` of everything seen.
    Final answer = exact top-k of the visited set.

    Per-hop cost is O(beam * degree) candidate ids — independent of
    corpus size, which is the whole point: the graph (n·k edges,
    partitioned on source id) is the only big table, the frontier is
    broadcast into an equi-join against it, and vector scoring touches
    only the new candidates (at 100 TB the base table is bucketed by
    vec_id so the id-probe is a bucket-pruned lookup, not a scan).
    Deterministic end-to-end: rounded-6dp cosine + id tie-break, fixed
    entry set, fixed hop count. Recall vs the exact brute-force top-k
    is pinned in tests/test_graph_search.py (the j48 pattern); with
    beam >= corpus it degenerates to exact brute force."""
    base = prepare_vectors(embeddings)
    qrow = base.filter(F.col("vec_id") == query_vec_id).select(
        "emb", "nrm"
        # bounded: 1-row query-vector lookup
    ).collect()[0]
    qe = F.array(*[F.lit(float(x)) for x in qrow.emb])
    cos = (
        F.round(dot(F.col("emb"), qe) / (F.col("nrm") * F.lit(float(qrow.nrm))), 6)
        + F.lit(0.0)
    )
    pool = base.filter(F.col("vec_id") != query_vec_id)

    def score(ids: DataFrame) -> DataFrame:
        return ids.join(pool, "vec_id").select(
            "vec_id", "label", cos.alias("cos_sim")
        )

    edges = graph.select(
        F.col("vec_id").alias("src"), F.col("nn_id").alias("dst")
    )
    sym = execution.cut(edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    entry = pool.orderBy("vec_id").limit(beam).select("vec_id")
    visited = execution.cut(score(entry))
    for _ in range(hops):
        frontier = visited.orderBy(
            F.col("cos_sim").desc(), F.col("vec_id").asc()
        ).limit(beam)
        new_ids = (
            sym.join(
                F.broadcast(frontier.select(F.col("vec_id").alias("src"))),
                "src",
            )
            .select(F.col("dst").alias("vec_id"))
            .filter(F.col("vec_id") != query_vec_id)
            .distinct()
            .join(visited.select("vec_id"), "vec_id", "left_anti")
        )
        visited = execution.cut(visited.union(score(new_ids)))

    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        visited.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "vec_id",
            "label",
            "cos_sim",
        )
    )


def build_search_graph(
    graph: DataFrame, path: str, n_buckets: int = 16
) -> None:
    """Persist an nn_descent k-NN graph SYMMETRIZED + BUCKETED for
    query-time beam search (VERDICT r8 item 3). The union +
    distinct — the one corpus-scale shuffle graph search needs — runs
    ONCE here at build time; the layout is parquet partitioned by
    bucket = pmod(src, n_buckets), so each query hop's frontier probe
    prunes to its frontier ids' partitions at the scan (directory
    pruning on the partition column) instead of re-symmetrizing and
    re-shuffling the n·k edge table per query, which is what
    graph_beam_search pays when handed a raw in-memory graph.

    At 100 TB: build cost amortizes over every query; a hop reads
    O(|frontier| buckets' files), never the edge corpus. n_buckets
    scales with corpus size (files per bucket stay splittable); a
    serving tier would additionally sort within buckets for rowgroup
    min/max skipping on src."""
    edges = graph.select(
        F.col("vec_id").alias("src"), F.col("nn_id").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    (
        sym.withColumn("bucket", F.pmod("src", F.lit(n_buckets)))
        .repartition("bucket")
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def probe_search_graph(
    spark: SparkSession, path: str, frontier_ids: list[int], n_buckets: int
) -> DataFrame:
    """One beam-search hop's edge probe against a build_search_graph
    layout: neighbors of the frontier ids, read with BOTH a partition
    filter (bucket pruning — only the frontier's directories are
    listed) and a pushed src IN filter (rowgroup skipping). No join, no
    Exchange — the plan is a pruned scan + project, which is the whole
    point of persisting the symmetrized layout
    (tests/test_graph_search.py plan-asserts this)."""
    buckets = sorted({int(i) % n_buckets for i in frontier_ids})
    return (
        spark.read.parquet(path)
        .filter(
            F.col("bucket").isin(buckets)
            & F.col("src").isin([int(i) for i in frontier_ids])
        )
        .select(F.col("dst").alias("vec_id"))
    )


def graph_beam_search_stored(
    embeddings: DataFrame,
    graph_path: str,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = 16,
    hops: int = 3,
    n_buckets: int = 16,
) -> DataFrame:
    """graph_beam_search over a PERSISTED build_search_graph layout —
    identical semantics and results (same symmetrized edge set, same
    deterministic entry set / scoring / tie-breaks), different
    query-time cost: the in-memory variant re-symmetrizes the n·k edge
    table (a corpus-scale Exchange) per query, this one probes the
    stored buckets. Per hop: the current best `beam` ids (a bounded
    collect — beam rows) select their buckets' directories only, new
    candidates score against the broadcast-joined vector pool, and the
    visited set grows by O(beam * degree). No corpus-scale shuffle
    appears anywhere in the query path."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    base = prepare_vectors(embeddings)
    qrow = base.filter(F.col("vec_id") == query_vec_id).select(
        "emb", "nrm"
        # bounded: 1-row query-vector lookup
    ).collect()[0]
    qe = F.array(*[F.lit(float(x)) for x in qrow.emb])
    cos = (
        F.round(
            dot(F.col("emb"), qe) / (F.col("nrm") * F.lit(float(qrow.nrm))),
            6,
        )
        + F.lit(0.0)
    )
    pool = base.filter(F.col("vec_id") != query_vec_id)

    def score(ids: DataFrame) -> DataFrame:
        return pool.join(F.broadcast(ids), "vec_id").select(
            "vec_id", "label", cos.alias("cos_sim")
        )

    entry = pool.orderBy("vec_id").limit(beam).select("vec_id")
    visited = execution.cut(score(entry))
    for _ in range(hops):
        frontier_ids = [
            r.vec_id
            for r in visited.orderBy(
                F.col("cos_sim").desc(), F.col("vec_id").asc()
            )
            .limit(beam)
            .select("vec_id")
            # bounded: limit(beam) frontier ids per hop
            .collect()
        ]
        new_ids = (
            probe_search_graph(spark, graph_path, frontier_ids, n_buckets)
            .filter(F.col("vec_id") != query_vec_id)
            .distinct()
            .join(visited.select("vec_id"), "vec_id", "left_anti")
        )
        visited = execution.cut(visited.union(score(new_ids)))

    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        visited.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "vec_id",
            "label",
            "cos_sim",
        )
    )

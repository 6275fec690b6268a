"""j37 / operators/similarity.threshold_pair_join — the exact
cosine-threshold similarity join must equal brute force on data with REAL
near-dup structure (clustered vectors, where pruning matters), and its
plan must carry the cell-pair candidate architecture, not an all-pairs
cartesian over the corpus.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scopus_spark import registry
from scopus_spark.operators import similarity

QUERIES = registry.all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _clustered_df(spark, n_clusters=6, per_cluster=25, dim=16, spread=0.05):
    """Deterministic clustered unit vectors: n_clusters well-separated
    anchors, per_cluster members each a small deterministic perturbation —
    the regime near-dup detection exists for."""
    rng = np.random.default_rng(7)
    anchors = rng.normal(size=(n_clusters, dim))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for m in range(per_cluster):
            v = anchors[ci] + spread * rng.normal(size=dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _brute_pairs(df, tau):
    pdf = df.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            c = round(float(sims[i, j]), 6)
            if c >= tau:
                out.add((int(ids[i]), int(ids[j]), c))
    return out


def _fast_pairs(df, tau, n_cells):
    base = similarity.prepare_vectors(df)
    cents = similarity._refine_centroids(base, n_cells).persist()
    assigned = similarity.assign_cells(base, cents)
    return similarity.threshold_pair_join(assigned, tau=tau)


@pytest.mark.parametrize("tau", [0.9, 0.99])
def test_threshold_join_equals_bruteforce_clustered(spark, tau):
    df = _clustered_df(spark)
    fast = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in _fast_pairs(df, tau, n_cells=12).collect()
    }
    assert fast == _brute_pairs(df, tau)


def test_threshold_join_equals_bruteforce_random(spark):
    # near-orthogonal random vectors with a low tau: nothing prunes well,
    # exactness must still hold (the bound degrades to all cell pairs,
    # never drops a qualifying one).
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], 0) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    fast = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in _fast_pairs(df, 0.3, n_cells=6).collect()
    }
    assert fast == _brute_pairs(df, 0.3)


def test_cell_pair_pruning_bites_on_clustered_data(spark):
    """With separated clusters and a tight tau, the surviving cell-pair
    list must be a small fraction of n_cells^2 — the scale argument."""
    df = _clustered_df(spark)
    n_cells = 12
    base = similarity.prepare_vectors(df)
    cents = similarity._refine_centroids(base, n_cells).persist()
    assigned = similarity.assign_cells(base, cents)
    slack = assigned.groupBy("cell_id").agg(
        F.max(
            F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * F.col("cos_centroid")))
        ).alias("slack")
    )
    meta = cents.join(slack, "cell_id")
    n_live = meta.count()
    delta = float(np.sqrt(2.0 - 2.0 * (0.99 - 1e-6)))
    ca, cb = meta.alias("ca"), meta.alias("cb")
    cent_cos = (
        F.aggregate(
            F.zip_with(F.col("ca.centroid"), F.col("cb.centroid"), lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        / (F.col("ca.cnrm") * F.col("cb.cnrm"))
    )
    chord = F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * cent_cos))
    kept = ca.join(
        cb,
        (F.col("ca.cell_id") <= F.col("cb.cell_id"))
        & (chord <= F.col("ca.slack") + F.col("cb.slack") + F.lit(delta)),
    ).count()
    total_unordered = n_live * (n_live + 1) // 2
    assert kept < total_unordered / 2, (kept, total_unordered)


def test_j37_plan_no_corpus_cartesian(spark, sf_dir, monkeypatch):
    # the returned frame filters a pinned scored stream (r11:
    # single-compile cosine); assert no cartesian in its plan…
    j37 = QUERIES["j37"](spark, sf_dir)
    plan = _plan(j37)
    assert "CartesianProduct" not in plan, plan
    # …and assert the join architecture on the TRANSPARENT plan of the
    # same registered query, built with localCheckpoint as the identity
    # so the checkpoint does not hide the join tree from explain (patched
    # on the session's concrete DataFrame class, which overrides it).
    with monkeypatch.context() as mp:
        mp.setattr(type(j37), "localCheckpoint", lambda self, *a, **kw: self)
        transparent = QUERIES["j37"](spark, sf_dir)
    inner = _plan(transparent)
    assert "CartesianProduct" not in inner, inner
    # corpus-scale joins are hash equi-joins on cell ids; the only
    # nested-loop joins are the broadcast centroid-row / cell-pair bounds.
    assert "BroadcastHashJoin" in inner or "SortMergeJoin" in inner


def test_j37_finds_exactly_the_planted_twins(spark, sf_dir):
    out = QUERIES["j37"](spark, sf_dir).collect()
    # every pair is an original joined to its planted perturbed copy
    assert len(out) > 0
    for r in out:
        assert r.vec_b == r.vec_a + 1000000
        assert r.cos_sim >= 0.99

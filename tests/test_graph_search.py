"""operators/similarity.graph_beam_search — beam search over the
NN-Descent graph (j53). Contracts: recall@10 >= 0.9 vs the exact
brute-force top-k on the fixture corpus, exact degeneration when the
beam covers the corpus, determinism across runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from scopus_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _exact_top10(spark, e):
    base = similarity.prepare_vectors(e)
    q = base.filter(F.col("vec_id") == 0).collect()[0]
    qe = F.array(*[F.lit(float(x)) for x in q.emb])
    cos = F.round(
        similarity.dot(F.col("emb"), qe) / (F.col("nrm") * F.lit(float(q.nrm))),
        6,
    )
    return [
        r.vec_id
        for r in base.filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]


def test_recall_at_10_vs_exact(spark):
    e = _emb(spark)
    n = e.count()
    g = similarity.nn_descent(
        e, k=10, rounds=3, n_cells=similarity.auto_n_cells(n), n_rows=n
    )
    got = {
        r.vec_id
        for r in similarity.graph_beam_search(
            e, g, query_vec_id=0, k=10, beam=16, hops=3
        ).collect()
    }
    exact = set(_exact_top10(spark, e))
    assert len(got & exact) / 10 >= 0.9


def test_beam_covering_corpus_is_exact(spark):
    e = _emb(spark).limit(60)
    n = 60
    g = similarity.nn_descent(e, k=5, rounds=2, n_cells=4, n_rows=n)
    got = [
        r.vec_id
        for r in similarity.graph_beam_search(
            e, g, query_vec_id=0, k=10, beam=n, hops=1
        ).collect()
    ]
    exact = _exact_top10(spark, e)
    assert got == exact


def test_deterministic_across_runs(spark):
    e = _emb(spark).limit(80)
    g = similarity.nn_descent(e, k=5, rounds=2, n_cells=4, n_rows=80)
    a = [
        (r.rank, r.vec_id)
        for r in similarity.graph_beam_search(e, g, beam=8, hops=2).collect()
    ]
    b = [
        (r.rank, r.vec_id)
        for r in similarity.graph_beam_search(
            e.repartition(7), g, beam=8, hops=2
        ).collect()
    ]
    assert a == b


def test_stored_layout_equals_in_memory_search(spark, tmp_path):
    """build_search_graph + graph_beam_search_stored must return the
    IDENTICAL rows (rank, vec_id, label, cos_sim) as the in-memory
    search over the same graph — the persisted layout changes cost,
    never semantics."""
    e = _emb(spark)
    n = e.count()
    g = similarity.nn_descent(
        e, k=10, rounds=3, n_cells=similarity.auto_n_cells(n), n_rows=n
    )
    path = str(tmp_path / "graph")
    similarity.build_search_graph(g, path, n_buckets=16)
    mem = [
        tuple(r)
        for r in similarity.graph_beam_search(
            e, g, query_vec_id=0, k=10, beam=16, hops=3
        ).collect()
    ]
    stored = [
        tuple(r)
        for r in similarity.graph_beam_search_stored(
            e, path, query_vec_id=0, k=10, beam=16, hops=3, n_buckets=16
        ).collect()
    ]
    assert stored == mem


def test_stored_probe_plan_is_pruned_scan_no_exchange(spark, tmp_path):
    """VERDICT r8 item 3's done criterion: a query hop against the
    stored layout is a bucket-pruned scan + project — PartitionFilters
    carry the frontier's buckets, the src IN filter is pushed, and NO
    Exchange (shuffle) appears anywhere in the probe plan."""
    e = _emb(spark).limit(60)
    g = similarity.nn_descent(e, k=5, rounds=1, n_cells=4, n_rows=60)
    path = str(tmp_path / "graph")
    similarity.build_search_graph(g, path, n_buckets=8)
    probe = similarity.probe_search_graph(spark, path, [3, 11], n_buckets=8)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    formatted = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    ) if hasattr(probe._sc._jvm, "PythonSQLUtils") else plan
    assert "Exchange" not in plan
    assert "PartitionFilters" in plan
    # both frontier ids hash to bucket 3 -> exactly one bucket listed
    assert "bucket" in plan
    files = probe.select(F.input_file_name()).distinct().collect()
    assert files  # the probe actually reads something
    assert all("bucket=3" in r[0] for r in files)  # pruned to one dir

"""Snapshot-extraction pipeline fidelity (scopus_spark/etl.py)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from scopus_spark import etl
from scopus_spark.catalog import table
from tests.conftest import SMOKE_SF_DIR


def test_extract_roundtrip_reconstructs_documents(spark):
    """render -> extract -> normalized tables must rebuild the original
    documents exactly (the reference pipeline's correctness criterion:
    no field lost between snapshot and relational schema)."""
    with tempfile.TemporaryDirectory(prefix="scopus_etl_") as tmp:
        snap, out = f"{tmp}/snap", f"{tmp}/out"
        etl.render_snapshot(spark, SMOKE_SF_DIR, snap)
        tables = etl.extract_snapshot(spark, snap, out)

        docs = table(spark, SMOKE_SF_DIR, "documents")
        records = spark.read.parquet(f"{out}/records")
        terms = spark.read.parquet(f"{out}/record_terms")

        # parent table: exact row parity
        assert records.count() == docs.count()
        assert (
            records.join(
                docs, ["doc_id", "lang", "source", "n_chars"], "inner"
            ).count()
            == docs.count()
        )

        # child table: terms in position order rebuild the text
        rebuilt = (
            terms.groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("term")))
                        ),
                        lambda s: s.term,
                    ),
                    " ",
                ).alias("text")
            )
        )
        mismatches = (
            rebuilt.alias("r")
            .join(docs.alias("d"), "doc_id")
            .filter(F.col("r.text") != F.col("d.text"))
            .count()
        )
        assert mismatches == 0


def test_merge_snapshot_incremental_load(spark):
    """Delta snapshot MERGE: changed docs replace (including SHRINKING
    term lists — no stale tails), new docs insert, untouched docs survive
    byte-identical; replay is a no-op."""
    import datetime as _dt

    with tempfile.TemporaryDirectory(prefix="scopus_etl_merge_") as tmp:
        snap, out, delta_sf, delta_snap = (
            f"{tmp}/snap", f"{tmp}/out", f"{tmp}/delta_sf", f"{tmp}/delta_snap",
        )
        etl.render_snapshot(spark, SMOKE_SF_DIR, snap)
        etl.extract_snapshot(spark, snap, out)
        docs = table(spark, SMOKE_SF_DIR, "documents")
        n0 = docs.count()

        # delta: doc 0 re-delivered with a SHORTER text + changed lang,
        # plus one brand-new doc
        new_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        delta_docs = spark.createDataFrame(
            [(0, "tiny text", "zz", "delta", 9), (new_id, "brand new doc", "en", "delta", 13)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        delta_docs.write.parquet(f"{delta_sf}/documents.parquet")
        etl.render_snapshot(spark, delta_sf, delta_snap)
        etl.merge_snapshot(spark, delta_snap, out)

        records = spark.read.parquet(f"{out}/records")
        terms = spark.read.parquet(f"{out}/record_terms")
        assert records.count() == n0 + 1
        doc0 = records.filter(F.col("doc_id") == 0).collect()[0]
        assert doc0["lang"] == "zz" and doc0["source"] == "delta"
        # term list replaced wholesale: exactly the 2 new tokens, no tails
        t0 = sorted(
            (r["pos"], r["term"])
            for r in terms.filter(F.col("doc_id") == 0).collect()
        )
        assert t0 == [(0, "tiny"), (1, "text")]
        assert terms.filter(F.col("doc_id") == new_id).count() == 3
        # untouched doc intact
        before = docs.filter(F.col("doc_id") == 1).collect()[0]
        after = records.filter(F.col("doc_id") == 1).collect()[0]
        assert before["lang"] == after["lang"] and before["n_chars"] == after["n_chars"]

        # replay idempotence (fresh reads: the rewrite invalidates any
        # DataFrame whose file listing predates it)
        n_terms = terms.count()
        etl.merge_snapshot(spark, delta_snap, out)
        assert spark.read.parquet(f"{out}/records").count() == n0 + 1
        assert spark.read.parquet(f"{out}/record_terms").count() == n_terms


def test_zip_corpus_extract_matches_xml_dir_extract(spark):
    """The ZIP-of-XML ingest path (the vendor delivery shape: binaryFile
    scan -> Arrow unzip -> from_xml) must produce byte-identical normalized
    tables to the bare-XML-directory path."""
    with tempfile.TemporaryDirectory(prefix="scopus_etl_zip_") as tmp:
        snap, zips = f"{tmp}/snap", f"{tmp}/zips"
        out_xml, out_zip = f"{tmp}/out_xml", f"{tmp}/out_zip"
        etl.render_snapshot(spark, SMOKE_SF_DIR, snap)
        etl.extract_snapshot(spark, snap, out_xml)
        etl.render_snapshot_zips(spark, SMOKE_SF_DIR, zips, docs_per_archive=16)
        etl.extract_snapshot_zips(spark, zips, out_zip)
        for name in etl.TABLE_NAMES:
            a = spark.read.parquet(f"{out_xml}/{name}")
            b = spark.read.parquet(f"{out_zip}/{name}")
            assert sorted(a.columns) == sorted(b.columns), name
            cols = sorted(a.columns)
            rows_a = sorted(tuple(r) for r in a.select(cols).collect())
            rows_b = sorted(tuple(r) for r in b.select(cols).collect())
            assert rows_a == rows_b, f"{name}: zip path diverges from xml path"


def test_extract_produces_citation_edges_and_author_links(spark):
    """The widened normalized schema: author links explode per (doc, seq),
    citation edges land in-range, affiliations dim is the distinct afid
    universe of the corpus."""
    with tempfile.TemporaryDirectory(prefix="scopus_etl_wide_") as tmp:
        snap, out = f"{tmp}/snap", f"{tmp}/out"
        etl.render_snapshot(spark, SMOKE_SF_DIR, snap)
        etl.extract_snapshot(spark, snap, out)
        docs = table(spark, SMOKE_SF_DIR, "documents")
        n_docs = docs.count()

        links = spark.read.parquet(f"{out}/author_links")
        # 1 + doc_id%3 authors per doc
        expected_links = docs.select(
            (1 + F.pmod("doc_id", F.lit(3))).alias("n")
        ).agg(F.sum("n")).collect()[0][0]
        assert links.count() == expected_links
        assert links.filter(F.col("auid") != (F.col("doc_id") * 7 + F.col("seq") * 13) % 997).count() == 0

        edges = spark.read.parquet(f"{out}/citation_edges")
        assert edges.filter(
            (F.col("cited_doc_id") < 0) | (F.col("cited_doc_id") >= n_docs)
        ).count() == 0
        expected_edges = docs.select(
            F.pmod("doc_id", F.lit(4)).alias("n")
        ).agg(F.sum("n")).collect()[0][0]
        assert edges.count() == expected_edges

        authors = spark.read.parquet(f"{out}/authors")
        assert authors.count() == authors.select("auid").distinct().count()
        affs = spark.read.parquet(f"{out}/affiliations")
        assert affs.count() == affs.select("afid").distinct().count()
        assert affs.filter(~F.col("country").rlike("^C[0-6]$")).count() == 0


def test_a20_manifest_ingest_reads_only_new_files(spark, sf_dir):
    """Second pass must ingest exactly the wave-2 files; a third pass
    with nothing new is a 0-file no-op (idempotent re-run)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from scopus_spark.catalog import table
    from scopus_spark.queries.etl_queries import ingest_new_files
    from scopus_spark.session import stage_dir

    base = stage_dir(sf_dir, "a20_unit")
    shutil.rmtree(base, ignore_errors=True)
    landing = os.path.join(base, "landing")
    target = os.path.join(base, "target")
    manifest = os.path.join(base, "manifest")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    docs.filter(F.col("doc_id") % 5 != 0).repartition(6).write.parquet(
        landing, mode="overwrite"
    )
    assert ingest_new_files(spark, landing, target, manifest) == 6
    docs.filter(F.col("doc_id") % 5 == 0).repartition(4).write.parquet(
        landing, mode="append"
    )
    assert ingest_new_files(spark, landing, target, manifest) == 4
    assert ingest_new_files(spark, landing, target, manifest) == 0
    assert spark.read.parquet(target).count() == docs.count()

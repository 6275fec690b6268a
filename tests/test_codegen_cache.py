"""session.CODEGEN_CACHE_ENTRIES: Spark's compiled-class cache holds the
headline's generated classes, so a second pass over the ten headline keys
in one session compiles none (at Spark's default of 100 entries about
half of them were compiled again on every pass)."""

from __future__ import annotations

from scopus_spark import registry
from scopus_spark.session import CODEGEN_CACHE_ENTRIES
from tools.profile import classes_compiled

HEADLINE = ("d2", "q3", "c8", "d1", "e1", "i1", "h9", "j3", "j1", "d9")


def test_second_headline_pass_compiles_no_class(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    queries = registry.all_queries()
    per_pass = []
    for _ in range(2):
        before = classes_compiled(spark)
        for key in HEADLINE:
            queries[key](spark, sf_dir).collect()
        per_pass.append(classes_compiled(spark) - before)
    assert per_pass[1] == 0, per_pass

"""Session confs: compiled generated classes are reused across passes.

Spark caches compiled generated classes per JVM in an LRU whose size
is a static conf; below the engine's working set every class is
evicted before its next use and each repeat recompiles it.
"""

from __future__ import annotations

from logzilla_spark.session import CODEGEN_CACHE_MAX_ENTRIES

from .conftest import SF01

CURATE = ("q_dedup_clusters", "q_dedup_ngram_jaccard", "q_dedup_embedding_cosine")


def _compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_repeated_curate_pass_compiles_nothing(spark):
    """A pass over the curate queries needs more classes (over 100 at
    sf0.01) than Spark's default 100-entry cache holds, so at that size
    every repeat recompiled part of it. With the engine's cache size a
    repeated query whose generated code repeats compiles nothing.

    ``q_dedup_clusters`` runs in each pass (its classes fill the cache)
    but is not held to zero: its connected-components rounds generate
    code that depends on runtime state (AQE's stage numbering, whether a
    round's broadcast keys are unique), so a repeat may meet a variant it
    has not compiled yet.
    """
    import __spark_entry__

    queries = __spark_entry__.queries()

    def one_pass() -> dict[str, int]:
        added = {}
        for q in CURATE:
            before = _compiles(spark)
            queries[q](spark, SF01).collect()
            added[q] = _compiles(spark) - before
        return added

    one_pass()
    again = one_pass()
    assert again["q_dedup_ngram_jaccard"] == 0
    assert again["q_dedup_embedding_cosine"] == 0

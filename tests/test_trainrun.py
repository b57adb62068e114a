"""T68 training-run materializer: keep-best -> curate -> pack ->
shard -> committed examples, composed from the audited unit operators.

Pins the composition invariants (funnel monotonicity, stage
consistency against the unit operators run independently), placement
determinism under repartitioning, seed behavior (fresh permutation,
same membership), and the committed side: manifest == table, (shard,
pos) clustering prunes a shard read at file level.
"""

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators import cluster, dedup, textstats
from logzilla_spark.operators.trainrun import (
    TRAIN_EXAMPLES_SUFFIX,
    materialize_training_run,
    training_examples,
)
from logzilla_spark.sources.catalog import LocalCatalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF + "/documents.parquet")


@pytest.fixture(scope="module")
def examples(docs):
    return training_examples(docs, n_shards=4, seed="t").persist()


def test_funnel_and_stage_consistency(docs, examples):
    n_input = docs.count()
    kb = cluster.neardup_keep_best(
        docs,
        dedup.ngram_jaccard_pairs(docs),
        textstats.quality_score(docs).select("id", "quality"),
    )
    n_kept = kb.filter("is_kept").count()
    n_ex = examples.count()
    assert 0 < n_ex <= n_kept <= n_input
    # examples are exactly the curation survivors of the keep-best set
    survivors = docs.join(
        kb.filter("is_kept").select(F.col("id").alias("doc_id")),
        "doc_id", "left_semi",
    )
    cur_ids = {r.id for r in textstats.curate_corpus(survivors).select("id").collect()}
    assert {r.id for r in examples.select("id").collect()} == cur_ids
    # every example has a complete placement
    row = examples.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("nd"),
        F.sum((F.col("shard") < 0).cast("int")).alias("bad_shard"),
        F.sum((F.col("pos") < 0).cast("int")).alias("bad_pos"),
        F.sum((F.col("seq_off") >= textstats.PACK_BUDGET).cast("int")).alias("bad_off"),
    ).collect()[0]
    assert row.n == row.nd == n_ex and row.bad_shard == row.bad_pos == row.bad_off == 0
    # positions are dense 0..n-1 per shard
    per = examples.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi")
    ).collect()
    assert all(r.lo == 0 and r.hi == r.n - 1 for r in per)


def test_deterministic_under_repartitioning(docs, examples):
    again = training_examples(docs.repartition(7), n_shards=4, seed="t")
    a = sorted(map(tuple, examples.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_seed_changes_permutation_not_membership(docs, examples):
    other = training_examples(docs, n_shards=4, seed="other").persist()
    assert {r.id for r in other.select("id").collect()} == {
        r.id for r in examples.select("id").collect()
    }
    pa = {r.id: (r.shard, r.pos) for r in examples.collect()}
    pb = {r.id: (r.shard, r.pos) for r in other.collect()}
    assert pa != pb  # a fresh permutation
    other.unpersist()


def test_materialize_commits_and_prunes(spark, docs, tmp_path):
    # the examples table at sf0.001 is a few KB: shrink the staging
    # advisory below that so the clustered write spans several files
    # and the pruning assertion is a real property
    keys = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        cat = LocalCatalog(str(tmp_path / "wh"))
        man = materialize_training_run(
            docs, cat, "run1", n_shards=4, seed="t"
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    name = "run1" + TRAIN_EXAMPLES_SUFFIX
    back = cat.read(spark, name)
    assert man["n_examples"] == back.count() == sum(
        s["n_rows"] for s in man["shards"]
    )
    assert man["total_tokens"] == back.agg(F.sum("n_tokens")).collect()[0][0]
    assert man["n_input"] == docs.count()
    assert [s["shard"] for s in man["shards"]] == sorted(
        s["shard"] for s in man["shards"]
    )
    # committed table matches the pure transformation exactly
    pure = training_examples(docs, n_shards=4, seed="t")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, pure.collect()))
    # (shard, pos) clustering: a one-shard read prunes files
    groups, total = cat.stats_pruned_files(name, "shard", points=[0])
    kept = sum(len(g["files"]) for g in groups)
    assert total > 1 and 0 < kept < total


def test_materialize_releases_its_examples_cache(spark, docs, tmp_path):
    """materialize_training_run commits and aggregates the examples
    itself, so it persists them and releases them before returning
    (the functions/caching.py policy for self-acting operators). The
    lazy stages it composes (keep-best's scored frame, the curated
    frame) still register theirs — lazy-plan policy; they sit above the
    clusters' createDataFrame, a new plan per call, so every call
    registers fresh ones — but no
    registered frame may be the examples table."""
    from logzilla_spark.functions import caching

    cat = LocalCatalog(str(tmp_path / "wh"))
    n = len(caching._TRACKED)
    materialize_training_run(docs, cat, "run2", n_shards=4, seed="cache-own")
    examples_cols = cat.read(spark, "run2" + TRAIN_EXAMPLES_SUFFIX).columns
    assert [f for f in caching._TRACKED[n:] if f.columns == examples_cols] == []

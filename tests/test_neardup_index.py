"""Committed near-dup index: build once, serve every ingest batch
(dedup.build_neardup_index / neardup_pairs_against_index, T73)."""

import pandas as pd
import pytest

from logzilla_spark.operators import dedup
from logzilla_spark.sources.catalog import LocalCatalog


def _mk(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )


WORDS = ("spark hash join merge sort shuffle batch stream table scan "
         "filter agg window part key row column value data").split()


def _doc(seed: int, mutate: int | None = None) -> str:
    toks = [WORDS[(seed * 7 + i * 3) % len(WORDS)] for i in range(30)]
    if mutate is not None:
        toks[mutate % 30] = "zzz"
    return " ".join(toks)


@pytest.fixture()
def cat(tmp_path):
    return LocalCatalog(str(tmp_path / "wh"))


@pytest.fixture(scope="module")
def corpus(spark):
    return _mk(spark, [(i, _doc(i % 4)) for i in range(20)])


@pytest.fixture(scope="module")
def delta(spark):
    return _mk(
        spark,
        [(100 + j,
          _doc(j % 4, mutate=j) if j < 5
          else " ".join(f"w{j}x{i}" for i in range(30)))
         for j in range(10)],
    )


def test_served_equals_inline_bitwise(spark, cat, corpus, delta):
    dedup.build_neardup_index(corpus, cat)
    inline = (
        dedup.minhash_lsh_pairs_against(delta, corpus)
        .toPandas().sort_values(["doc_new", "doc_old"]).reset_index(drop=True)
    )
    served = (
        dedup.neardup_pairs_against_index(delta, cat, spark)
        .toPandas().sort_values(["doc_new", "doc_old"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(served, inline)  # dtype-strict


def test_filter_served_and_ingest_cycle(spark, cat, corpus, delta):
    """The nightly loop: filter batch against the index, admit the
    survivors, update the index with them; a re-submitted copy of an
    admitted doc is then suppressed."""
    dedup.build_neardup_index(corpus, cat)
    surv = dedup.neardup_filter_against_index(delta, cat, spark)
    surv_ids = {r.doc_id for r in surv.select("doc_id").collect()}
    assert surv_ids == {105, 106, 107, 108, 109}
    dedup.update_neardup_index(surv, cat)
    # batch 2: an exact copy of an admitted survivor + one fresh doc
    batch2 = _mk(spark, [
        (200, " ".join(f"w7x{i}" for i in range(30))),  # copy of 107
        (201, " ".join(f"fresh{i}" for i in range(30))),
    ])
    surv2 = dedup.neardup_filter_against_index(batch2, cat, spark)
    assert {r.doc_id for r in surv2.select("doc_id").collect()} == {201}


def test_index_tables_shape_and_summary(spark, cat, corpus):
    sids = dedup.build_neardup_index(corpus, cat)
    assert set(sids) == {"features", "bands"}
    feats = cat.read(spark, dedup.NEARDUP_FEATURES_TABLE)
    assert set(feats.columns) == {"id", "sig", "sh"}
    assert feats.count() == 20
    bands = cat.read(spark, dedup.NEARDUP_BANDS_TABLE)
    assert set(bands.columns) == {"id", "band_id", "band_hash"}
    # every doc contributes all its LSH bands
    assert bands.count() == 20 * dedup.LSH_BANDS


def test_rebuild_replaces_atomically(spark, cat, corpus, delta):
    dedup.build_neardup_index(corpus, cat)
    n1 = cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count()
    dedup.build_neardup_index(corpus.unionByName(delta), cat)
    n2 = cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count()
    assert n2 == n1 + 10 * dedup.LSH_BANDS
    # old snapshot still readable (time travel intact)
    hist = cat.snapshot_ids(dedup.NEARDUP_BANDS_TABLE)
    assert len(hist) >= 2


def test_update_batch_ref_makes_retry_idempotent(spark, cat, corpus):
    dedup.build_neardup_index(corpus, cat)
    batch = _mk(spark, [(500 + j, " ".join(f"n{j}t{i}" for i in range(30)))
                        for j in range(3)])
    dedup.update_neardup_index(batch, cat, batch_ref="b1")
    nf = cat.read(spark, dedup.NEARDUP_FEATURES_TABLE).count()
    nb = cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count()
    # full retry: both halves skipped
    sids = dedup.update_neardup_index(batch, cat, batch_ref="b1")
    assert cat.read(spark, dedup.NEARDUP_FEATURES_TABLE).count() == nf
    assert cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count() == nb
    assert sids["features"] == cat.last_snapshot_id(dedup.NEARDUP_FEATURES_TABLE)


def test_update_crash_between_appends_heals(spark, cat, corpus):
    """Simulate features-landed/bands-missing: append the features
    half manually under the ref, then run the full update — the
    features append is skipped, the bands half is applied once."""
    from pyspark.sql import functions as F

    from logzilla_spark.operators.dedup import (
        _minhash_features,
        minhash_band_hashes,
    )

    dedup.build_neardup_index(corpus, cat)
    nb0 = cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count()
    batch = _mk(spark, [(600, " ".join(f"c{i}" for i in range(30)))])
    feat = _minhash_features(batch)
    cat.append(
        feat.select("id", "sig", F.col("_sh").alias("sh")),
        dedup.NEARDUP_FEATURES_TABLE,
        summary={"kind": "neardup_features", "batch_ref": "crash1"},
    )
    nf = cat.read(spark, dedup.NEARDUP_FEATURES_TABLE).count()
    dedup.update_neardup_index(batch, cat, batch_ref="crash1")
    assert cat.read(spark, dedup.NEARDUP_FEATURES_TABLE).count() == nf
    assert cat.read(spark, dedup.NEARDUP_BANDS_TABLE).count() == \
        nb0 + dedup.LSH_BANDS
    # the healed doc is reachable as a candidate
    probe = _mk(spark, [(700, " ".join(f"c{i}" for i in range(30)))])
    pairs = dedup.neardup_pairs_against_index(probe, cat, spark).toPandas()
    assert 600 in set(pairs.doc_old)


def test_build_and_update_release_their_feature_cache(spark, cat):
    """Both index writers run their own catalog commits, so they persist
    the feature frame and release it before returning (the
    functions/caching.py policy for self-acting operators): nothing is
    left in the lazy-plan registry or the cache manager."""
    from pyspark.storagelevel import StorageLevel

    from logzilla_spark.functions import caching

    corpus = _mk(spark, [(300 + i, _doc(i + 11)) for i in range(8)])
    batch = _mk(spark, [(400 + j, _doc(j + 23, mutate=j)) for j in range(4)])
    n = len(caching._TRACKED)
    dedup.build_neardup_index(corpus, cat)
    assert len(caching._TRACKED) == n
    dedup.update_neardup_index(batch, cat, batch_ref="b-cache")
    assert len(caching._TRACKED) == n
    for df in (corpus, batch):
        feat = dedup._minhash_features(df, "doc_id", "text")
        assert feat.storageLevel == StorageLevel.NONE

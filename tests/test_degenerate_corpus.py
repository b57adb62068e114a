"""Differential oracle over a degenerate / adversarial documents corpus.

The sf* documents tables are well-formed web text; this corpus is the
hostile tail a 100 TB crawl actually contains — NULL text, empty and
whitespace-only docs, unicode (CJK, emoji, combining marks), a
pathological single-token doc, control characters. Every dedup and
textstats operator must (a) not crash (Spark 4 ANSI mode turns
divide-by-zero and bad casts into runtime errors mid-corpus) and
(b) still match its DuckDB twin bit-for-bit.

Bugs this file has caught: quality_score / token_counts ANSI
DIVIDE_BY_ZERO on empty docs (oracle returns NULL: try_divide);
simhash explode dropping NULL-text docs (twin emits fingerprint 0);
ngram_jaccard pairing NULL-text docs with empty docs at jaccard 1.0
(concat_ws swallows the NULL slice; twin emits nothing).
"""

import os

import pandas as pd
import pytest

from logzilla_spark import oracle_dataops as od
from logzilla_spark.operators import dedup, textstats
from tests.conftest import canon_rows

import duckdb


DOCS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "café naïve résumé 中文文本 \U0001f600\U0001f600"),
    (5, "a" * 5000),
    (6, "tab\tsep\nnewline\rcarriage"),
    (7, "éé combining"),
    (8, "the quick brown fox jumps over the lazy dog"),
    (9, "the quick brown fox jumps over the lazy dog again and again"),
    (10, "the quick brown fox jumps over the lazy dog again and again!"),
    (11, "12345 67890 111213"),
]


@pytest.fixture(scope="module")
def docs_path(tmp_path_factory):
    p = os.path.join(str(tmp_path_factory.mktemp("degenerate")), "docs.parquet")
    pd.DataFrame(DOCS, columns=["doc_id", "text"]).to_parquet(p)
    return p


@pytest.fixture(scope="module")
def docs_df(spark, docs_path):
    return spark.read.parquet(docs_path)


def _assert_twin(sdf, sql):
    sp = canon_rows(sdf.toPandas())
    o = canon_rows(duckdb.sql(sql).df())
    assert sp == o


def test_exact_dedup_twin(docs_df, docs_path):
    _assert_twin(dedup.exact_dedup_groups(docs_df), od.exact_dedup_sql(docs_path))


def test_minhash_signatures_twin(docs_df, docs_path):
    from pyspark.sql import functions as F

    flat = dedup.minhash_signatures(docs_df).select(
        "id",
        *[
            F.element_at("sig", j + 1).alias(f"s{j:02d}")
            for j in range(dedup.N_MINHASH)
        ],
    )
    _assert_twin(flat, od.minhash_signatures_sql(docs_path))


def test_minhash_pairs_twin(docs_df, docs_path):
    _assert_twin(dedup.minhash_lsh_pairs(docs_df), od.minhash_lsh_pairs_sql(docs_path))


def test_simhash_fingerprints_twin(docs_df, docs_path):
    _assert_twin(
        dedup.simhash_fingerprints(docs_df), od.simhash_fingerprints_sql(docs_path)
    )


def test_simhash_pairs_twin(docs_df, docs_path):
    _assert_twin(dedup.simhash_pairs(docs_df), od.simhash_pairs_sql(docs_path))


def test_simhash_duplicate_ids_keyed(spark, tmp_path):
    """Fingerprints are KEYED by id: duplicate-id rows merge into one
    fingerprint over the combined token multiset — one output row per
    id, Spark and the DuckDB twin agreeing bit-for-bit (the twin's old
    per-row form emitted N diverging rows for N duplicates). A
    NULL-text duplicate contributes only -1 votes, so it cannot set
    bits its twin row didn't."""
    p = os.path.join(str(tmp_path), "dup.parquet")
    pd.DataFrame(
        [
            (1, "alpha beta gamma"),
            (1, "delta epsilon"),
            (2, "alpha beta gamma"),
            (3, None),
            (3, "zeta"),
        ],
        columns=["doc_id", "text"],
    ).to_parquet(p)
    sdf = dedup.simhash_fingerprints(spark.read.parquet(p))
    assert sdf.count() == 3  # one row per id, not per input row
    _assert_twin(sdf, od.simhash_fingerprints_sql(p))


def test_ngram_jaccard_twin(docs_df, docs_path):
    _assert_twin(
        dedup.ngram_jaccard_pairs(docs_df), od.ngram_jaccard_pairs_sql(docs_path)
    )


def test_language_id_twin(docs_df, docs_path):
    _assert_twin(textstats.language_id(docs_df), od.language_id_sql(docs_path))


def test_quality_score_twin(docs_df, docs_path):
    # empty docs: ANSI divide-by-zero must NOT throw; NULL like the twin
    _assert_twin(textstats.quality_score(docs_df), od.quality_score_sql(docs_path))


def test_token_counts_twin(docs_df, docs_path):
    _assert_twin(textstats.token_counts(docs_df), od.token_counts_sql(docs_path))


def test_fingerprints_twin(docs_df, docs_path):
    _assert_twin(textstats.fingerprints(docs_df), od.fingerprints_sql(docs_path))


# ---------------------------------------------------------------------------
# Embeddings: zero vector (norm 0 -> ANSI divide-by-zero without
# try_divide) and NULL embedding (must drop everywhere, both engines);
# the edge rows pin the cosine kernel's NULL element, width, NaN and
# signed-zero semantics against the twins.
# ---------------------------------------------------------------------------


def _write_emb(tmp_path_factory, edge_rows: bool) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)

    def vec():
        return list(map(float, rng.randn(64).astype(np.float32)))

    rows = [(i, vec()) for i in range(1, 9)]
    rows.append((9, [0.0] * 64))  # zero vector: cosine undefined
    rows.append((10, None))  # NULL embedding
    if edge_rows:
        rows.append((11, vec()[:32] + [None] + vec()[:31]))  # NULL element
        rows.append((12, vec()[:63]))  # width mismatch
        rows.append((13, vec()[:7] + [float("nan")] + vec()[:56]))  # NaN cosine
        rows.append((14, [-0.0] + vec()[:63]))  # first product -0.0, 0.0 seed
    # pyarrow, not pandas: from_pandas would turn the NaN into a NULL
    p = os.path.join(str(tmp_path_factory.mktemp("degenerate_emb")), "emb.parquet")
    ids, embs = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float64())),
            }
        ),
        p,
    )
    return p


@pytest.fixture(scope="module")
def emb_path(tmp_path_factory):
    return _write_emb(tmp_path_factory, edge_rows=True)


@pytest.fixture(scope="module")
def emb_df(spark, emb_path):
    return spark.read.parquet(emb_path)


def test_embedding_neardup_twin(emb_df, emb_path):
    _assert_twin(dedup.embedding_neardup_pairs(emb_df), od.embedding_neardup_sql(emb_path))


def test_embedding_neardup_lsh_twin(emb_df, emb_path):
    from logzilla_spark.operators import similarity

    _assert_twin(
        similarity.embedding_neardup_lsh(emb_df),
        od.embedding_neardup_lsh_sql(emb_path),
    )


def test_cosine_topk_twin(emb_df, emb_path):
    from pyspark.sql import functions as F

    from logzilla_spark.operators import similarity

    probes = emb_df.filter(F.col("vec_id") % 5 == 0)  # id 5 real, id 10 NULL
    _assert_twin(
        similarity.cosine_topk(emb_df, probes, k=5),
        od.cosine_topk_sql(emb_path, k=5, probe_mod=5),
    )


# ---------------------------------------------------------------------------
# Media: NULL payload (corrupt asset), empty payload, sub-header
# payload, NULL meta fields. One bad row must not kill the corpus
# pass; NULL-folded outputs must match the twin.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media_path(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta_t = pa.struct(
        [
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("sample_rate", pa.int32()),
            ("duration_ms", pa.int32()),
        ]
    )
    tbl = pa.table(
        {
            "media_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "kind": pa.array(["image", "image", "audio", "image", "audio"]),
            "payload": pa.array(
                [b"IMGAabcdef", b"", None, b"IM", b"AUD"], pa.binary()
            ),
            "meta": pa.array(
                [
                    {"width": 8, "height": 4, "sample_rate": None, "duration_ms": None},
                    {"width": 0, "height": 0, "sample_rate": None, "duration_ms": None},
                    {"width": None, "height": None, "sample_rate": 16000, "duration_ms": 1000},
                    {"width": None, "height": None, "sample_rate": None, "duration_ms": None},
                    {"width": None, "height": None, "sample_rate": 8000, "duration_ms": 0},
                ],
                meta_t,
            ),
        }
    )
    p = os.path.join(str(tmp_path_factory.mktemp("degenerate_media")), "media.parquet")
    pq.write_table(tbl, p)
    return p


@pytest.fixture(scope="module")
def media_df(spark, media_path):
    return spark.read.parquet(media_path)


def test_media_stats_twin(media_df, media_path):
    from logzilla_spark.operators import multimodal

    _assert_twin(multimodal.media_stats(media_df), od.media_stats_sql(media_path))


def test_image_features_twin(media_df, media_path):
    from logzilla_spark.operators import multimodal

    _assert_twin(
        multimodal.decode_image_features(media_df), od.image_features_sql(media_path)
    )


def test_audio_frames_twin(media_df, media_path):
    from logzilla_spark.operators import multimodal

    _assert_twin(
        multimodal.audio_frame_sample(media_df), od.audio_frames_sql(media_path)
    )


def test_cosine_topk_lsh_twin(emb_df, emb_path):
    from pyspark.sql import functions as F

    from logzilla_spark.operators import similarity

    probes = emb_df.filter(F.col("vec_id") % 5 == 0)
    _assert_twin(
        similarity.cosine_topk_lsh(emb_df, probes, k=5),
        od.cosine_topk_lsh_sql(emb_path, k=5, probe_mod=5),
    )


def test_curate_corpus_twin(docs_df, docs_path):
    _assert_twin(textstats.curate_corpus(docs_df), od.curate_corpus_sql(docs_path))


def test_curate_corpus_mass_duplicate(spark):
    """Boilerplate pathology: one english page duplicated 50,000 times
    plus a handful of distinct docs. The min_by keep-first collapses
    the hot content hash map-side (one partial row per task); the old
    window shape would ship all 50k copies to one reducer. Asserts the
    result AND that it completes with the corpus spread over many
    partitions."""
    from pyspark.sql import functions as F

    boiler = "the quick brown fox is on the hill with a friend of the pack"
    dups = spark.range(0, 50_000).select(
        (F.col("id") + 100).alias("doc_id"), F.lit(boiler).alias("text")
    )
    distinct = spark.createDataFrame(
        [(1, "a log engine for the data of the future is on the way to you")],
        "doc_id long, text string",
    )
    df = distinct.unionByName(dups).repartition(32)
    out = {r.id: r for r in textstats.curate_corpus(df).collect()}
    assert set(out) == {1, 100}
    assert out[100].n_copies == 50_000 and out[1].n_copies == 1


def test_curate_corpus_duplicate_ids_one_survivor(spark, tmp_path):
    """The same (doc_id, text) row appearing twice: keep-first must emit
    ONE survivor per content hash with n_copies counting both (min_by /
    arg_min semantics on BOTH engines — a QUALIFY id = min(id) would
    keep every copy of the keeper id)."""
    import os as _os

    rows = [
        (7, "the quick brown fox is on the hill with a friend of the pack"),
        (7, "the quick brown fox is on the hill with a friend of the pack"),
        (9, "the quick brown fox is on the hill with a friend of the pack"),
    ]
    p = _os.path.join(str(tmp_path), "dups.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p)
    sdf = textstats.curate_corpus(spark.read.parquet(p))
    got = sdf.collect()
    assert len(got) == 1 and got[0].id == 7 and got[0].n_copies == 3
    _assert_twin(sdf, od.curate_corpus_sql(p))


def test_repetition_stats_twin(docs_df, docs_path):
    _assert_twin(textstats.repetition_stats(docs_df), od.repetition_stats_sql(docs_path))


def test_redact_pii_twin(docs_df, docs_path):
    _assert_twin(textstats.redact_pii(docs_df), od.redact_pii_sql(docs_path))


def test_redact_pii_twin_with_planted_pii(spark, tmp_path):
    """Twin equality on text that actually MATCHES: emails, IPs,
    phone runs, plus adversarial near-matches (trailing dot IP,
    double @, unicode around PII)."""
    import os as _os

    rows = [
        (1, "a@b.io c@d.org 10.0.0.1 +44 20 7946 0958"),
        (2, "not@an@email 999.999.999.999. 12-34"),
        (3, "café ünïcode a.b@c.de 127.0.0.1\nsecond line +1 555 000 1111"),
        (4, ""),
    ]
    p = _os.path.join(str(tmp_path), "pii.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p)
    _assert_twin(
        textstats.redact_pii(spark.read.parquet(p)), od.redact_pii_sql(p)
    )


def test_benchmark_contamination_twin(spark, docs_df, docs_path):
    bench = docs_df.filter("doc_id % 5 = 0").selectExpr(
        "doc_id AS bench_id", "text"
    )
    _assert_twin(
        dedup.benchmark_contamination(docs_df, bench),
        od.benchmark_contamination_sql(docs_path, "doc_id % 5 = 0"),
    )


def test_c4_line_filter_twin(docs_df, docs_path):
    _assert_twin(textstats.c4_line_filter(docs_df), od.c4_line_filter_sql(docs_path))


def test_c4_line_filter_twin_with_planted_lines(spark, tmp_path):
    """Twin equality on text the filter actually KEEPS: punctuated
    multi-line docs, quotes-as-terminal, unicode, trailing whitespace
    after the punctuation mark."""
    import os as _os

    rows = [
        (1, "A good first sentence here.\nAnd a second good one!\n"
            "A third one?\nThe fourth keeps going.\nFifth one lands.\nSixth too."),
        (2, 'He said "stop right there."\nA line ending in a quote."\nbad line'),
        (3, "Ünïcode sentence with café words.\nshort.\n   \n"),
        (4, None),
        (5, ""),
    ]
    p = _os.path.join(str(tmp_path), "c4.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p)
    _assert_twin(
        textstats.c4_line_filter(spark.read.parquet(p)), od.c4_line_filter_sql(p)
    )


def test_substring_dedup_twin(docs_df, docs_path):
    _assert_twin(
        textstats.substring_dedup(docs_df), od.substring_dedup_sql(docs_path)
    )


def test_dsir_scores_twin(spark, docs_df, docs_path):
    target = docs_df.filter("doc_id % 5 = 0")
    _assert_twin(
        textstats.dsir_scores(docs_df, target),
        od.dsir_scores_sql(docs_path, "id % 5 = 0"),
    )


def test_semdedup_twin(spark, tmp_path_factory):
    """On the ten rows without the cosine-kernel edge rows. Known
    divergence (ROADMAP item 2): every row here seeds its own cell, and
    for the 63-wide row the twin, which reads exactly EMB_DIM elements,
    gives NULL where Spark's width-generic fold gives 1.0."""
    from logzilla_spark.operators import similarity

    path = _write_emb(tmp_path_factory, edge_rows=False)
    _assert_twin(similarity.semdedup(spark.read.parquet(path)), od.semdedup_sql(path))


@pytest.fixture(scope="module")
def dup_emb_path(tmp_path_factory):
    """Full-width vectors where vec_id 3 holds two rows with different
    vectors, both near id 1 and the probe 10 (ids 4 and 5 are near each
    other), so the duplicate pairs through each of its rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(17)
    base = {i: rng.randn(64) for i in range(1, 11)}
    near = {3: 1, 4: 3, 5: 3, 10: 1}
    rows = [(i, base[near.get(i, i)] + 0.01 * rng.randn(64) * (i in near)) for i in range(1, 11)]
    rows.append((3, base[1] + 0.01 * rng.randn(64)))
    p = os.path.join(str(tmp_path_factory.mktemp("dup_emb")), "emb.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array([i for i, _ in rows], pa.int64()),
            "embedding": pa.array(
                [list(map(float, v.astype(np.float32))) for _, v in rows],
                pa.list_(pa.float32()),
            ),
        }),
        p,
    )
    return p


@pytest.mark.parametrize("name", ["embedding_neardup_lsh", "cosine_topk_lsh"])
def test_duplicate_id_lsh_twins(spark, dup_emb_path, name):
    """A vec_id held by two rows pairs through each of its rows, in
    Spark and in the DuckDB twin. Probes are ids 5 and 10."""
    from pyspark.sql import functions as F

    from logzilla_spark.operators import similarity

    emb = spark.read.parquet(dup_emb_path)
    if name == "embedding_neardup_lsh":
        sdf, sql = similarity.embedding_neardup_lsh(emb), od.embedding_neardup_lsh_sql(dup_emb_path)
    else:
        probes = emb.filter(F.col("vec_id") % 5 == 0)
        sdf = similarity.cosine_topk_lsh(emb, probes, k=5)
        sql = od.cosine_topk_lsh_sql(dup_emb_path, k=5, probe_mod=5)
    assert sdf.count() > 0
    _assert_twin(sdf, sql)


# Per-row results on the duplicate-id corpus, columns in name order.
# The IVF and SemDeDup twins pick cells per id (``PARTITION BY e.id``)
# and so keep one of id 3's two rows; Spark assigns and pairs each row,
# which these rows pin (id 3 is probe 10's neighbour twice, and both
# of its rows appear in the SemDeDup output).
DUP_ID_ROWS = {
    "cosine_topk_ivf": [  # cosine, neighbor_id, probe_id, rank
        ("-0.06047937553290157", "2", "5", "4"),
        ("-0.332414918046345", "8", "5", "5"),
        ("0.023695296467646766", "6", "5", "3"),
        ("0.034549973731717046", "9", "5", "2"),
        ("0.1510454485731014", "7", "10", "4"),
        ("0.9998752203613874", "4", "5", "1"),
        ("0.9999209428344239", "3", "10", "3"),
        ("0.9999220088198694", "3", "10", "2"),
        ("0.9999482697673103", "1", "10", "1"),
    ],
    "semdedup": [  # cell, centroid_cos, id, is_kept
        ("0", "0.15278223114517525", "7", "True"),
        ("0", "0.9999470379905357", "3", "False"),
        ("0", "0.9999482697673103", "10", "False"),
        ("0", "0.9999589647565875", "3", "False"),
        ("0", "1.0", "1", "False"),
        ("1", "-0.00835705419091744", "9", "True"),
        ("1", "-0.06047937553290157", "5", "False"),
        ("1", "-0.0638034155170745", "4", "True"),
        ("1", "0.14354122971634262", "8", "True"),
        ("1", "0.2803045979194895", "6", "True"),
        ("1", "1.0", "2", "True"),
    ],
}


@pytest.mark.parametrize("name", sorted(DUP_ID_ROWS))
def test_duplicate_id_cell_rows(spark, dup_emb_path, name):
    """Two cells keep the seeds (ids 1 and 2) free of the duplicate."""
    from collections import Counter

    from pyspark.sql import functions as F

    from logzilla_spark.operators import similarity

    emb = spark.read.parquet(dup_emb_path)
    if name == "semdedup":
        sdf = similarity.semdedup(emb, n_cells=2)
    else:
        probes = emb.filter(F.col("vec_id") % 5 == 0)
        sdf = similarity.cosine_topk_ivf(emb, probes, k=5, n_cells=2, nprobe=1)
    assert canon_rows(sdf.toPandas()) == Counter(DUP_ID_ROWS[name])


@pytest.mark.parametrize(
    "name",
    ["pq_topk", "pq_topk_ivf", "cosine_topk_ivf", "cosine_topk_ivf_trained"],
)
def test_centroid_topk_twins(spark, tmp_path_factory, name):
    """IVF and PQ top-k on the ten rows without the cosine-kernel edge
    rows. Every row seeds a cell and a code, so the NULL embedding
    (id 10) is code 9's codeword in every subspace: its L2 distance is
    NULL and ranks after every real codeword, as the twins' ``ORDER BY
    d`` (NULLS LAST) ranks it. The cosine rows pin NULL-last cell
    assignment for the zero vector and the NULL embedding."""
    from pyspark.sql import functions as F

    from logzilla_spark.operators import similarity

    path = _write_emb(tmp_path_factory, edge_rows=False)
    emb = spark.read.parquet(path)
    probes = emb.filter(F.col("vec_id") % 5 == 0)  # id 5 real, id 10 NULL
    _assert_twin(
        getattr(similarity, name)(emb, probes, k=5),
        getattr(od, name + "_sql")(path, k=5, probe_mod=5),
    )


def test_video_frames_twin(spark, tmp_path_factory):
    """Video frame explosion on hostile rows: NULL payload and NULL
    duration emit no frames, short payloads clip slices, zero duration
    still emits frame 0 — both engines byte-equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from logzilla_spark.operators import multimodal

    meta_t = pa.struct([
        ("width", pa.int32()), ("height", pa.int32()),
        ("sample_rate", pa.int32()), ("duration_ms", pa.int32()),
    ])
    tbl = pa.table({
        "media_id": pa.array([1, 2, 3, 4], pa.int64()),
        "kind": pa.array(["video", "video", "video", "video"]),
        "payload": pa.array(
            [b"VID0" + b"x" * 200, None, b"VID0", b"VID0" + b"y" * 40],
            pa.binary(),
        ),
        "meta": pa.array(
            [
                {"width": 64, "height": 48, "sample_rate": 25, "duration_ms": 1700},
                {"width": 64, "height": 48, "sample_rate": 25, "duration_ms": 1000},
                {"width": 64, "height": 48, "sample_rate": 25, "duration_ms": None},
                {"width": 64, "height": 48, "sample_rate": None, "duration_ms": 0},
            ],
            meta_t,
        ),
    })
    p = os.path.join(str(tmp_path_factory.mktemp("degenerate_video")), "media.parquet")
    pq.write_table(tbl, p)
    df = spark.read.parquet(p)
    _assert_twin(multimodal.video_frame_sample(df), od.video_frames_sql(p))
    out = multimodal.video_frame_sample(df).toPandas()
    # asset 1: frames at 0/500/1000/1500; assets 2 (NULL payload) and
    # 3 (NULL duration) vanish; asset 4 (0 ms) keeps frame 0
    assert sorted(out[out.media_id == 1].ts_ms) == [0, 500, 1000, 1500]
    assert set(out.media_id) == {1, 4}


def test_resize_images_twin(media_df, media_path):
    from logzilla_spark.operators import multimodal

    _assert_twin(multimodal.resize_images(media_df), od.resize_images_sql(media_path))


def test_resize_images_geometry(spark):
    """Integer resize geometry: longest side capped, aspect preserved
    by exact integer division, small images identity, degenerate 1px
    floors."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile
    from logzilla_spark.operators import multimodal

    meta_t = pa.struct([
        ("width", pa.int32()), ("height", pa.int32()),
        ("sample_rate", pa.int32()), ("duration_ms", pa.int32()),
    ])
    tbl = pa.table({
        "media_id": pa.array([1, 2, 3], pa.int64()),
        "kind": pa.array(["image", "image", "image"]),
        "payload": pa.array(
            [b"IMG0" + b"a" * 1024, b"IMG0" + b"b" * 100, b"IMG0" + b"c" * 640],
            pa.binary(),
        ),
        "meta": pa.array(
            [
                {"width": 1024, "height": 256, "sample_rate": None, "duration_ms": None},
                {"width": 100, "height": 50, "sample_rate": None, "duration_ms": None},
                {"width": 10000, "height": 2, "sample_rate": None, "duration_ms": None},
            ],
            meta_t,
        ),
    })
    d = tempfile.mkdtemp()
    p = os.path.join(d, "media.parquet")
    pq.write_table(tbl, p)
    out = {r.media_id: r for r in
           multimodal.resize_images(spark.read.parquet(p)).collect()}
    # 1024x256 -> 256x64 (4x down); body 1024 bytes -> 1024*256*64/(1024*256)=64
    assert (out[1].dst_width, out[1].dst_height, out[1].resized_len) == (256, 64, 64)
    # within max_dim: identity, full body kept
    assert (out[2].dst_width, out[2].dst_height, out[2].resized_len) == (100, 50, 100)
    # extreme aspect: height floors at 1, never 0
    assert out[3].dst_width == 256 and out[3].dst_height == 1


def test_gopher_quality_filter_twin(docs_df, docs_path):
    _assert_twin(
        textstats.gopher_quality_filter(docs_df),
        od.gopher_quality_filter_sql(docs_path),
    )


def test_curation_funnel_twin(docs_df, docs_path):
    _assert_twin(
        textstats.curation_funnel(docs_df),
        od.curation_funnel_sql(docs_path),
    )


def test_temperature_token_sample_twin(docs_df, docs_path):
    # the degenerate docs table has no lang column — graft one on both
    # sides deterministically is overkill; reuse the real sf0.001 table
    import os as _os

    sf = "/root/testdata/sf0.001/documents.parquet"
    if not _os.path.exists(sf):
        pytest.skip("sf0.001 corpus absent")
    spark = docs_df.sparkSession
    _assert_twin(
        textstats.temperature_token_sample(spark.read.parquet(sf), 500),
        od.temperature_token_sample_sql(sf, 500),
    )


def test_resize_images_subheader_payload_valid_geometry(spark, tmp_path_factory):
    """A payload SHORTER than the header with valid geometry: body is
    empty, resized_len must be 0 (never negative — the twin clamps
    body_len) and the checksum 0, both engines equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from logzilla_spark.operators import multimodal

    meta_t = pa.struct([
        ("width", pa.int32()), ("height", pa.int32()),
        ("sample_rate", pa.int32()), ("duration_ms", pa.int32()),
    ])
    tbl = pa.table({
        "media_id": pa.array([1], pa.int64()),
        "kind": pa.array(["image"]),
        "payload": pa.array([b"IM"], pa.binary()),
        "meta": pa.array(
            [{"width": 8, "height": 4, "sample_rate": None, "duration_ms": None}],
            meta_t,
        ),
    })
    p = os.path.join(str(tmp_path_factory.mktemp("subheader")), "media.parquet")
    pq.write_table(tbl, p)
    df = spark.read.parquet(p)
    _assert_twin(multimodal.resize_images(df), od.resize_images_sql(p))
    row = multimodal.resize_images(df).collect()[0]
    assert row.resized_len == 0 and row.resized_checksum == 0


def test_corpus_report_twin(docs_df, docs_path):
    _assert_twin(textstats.corpus_report(docs_df), od.corpus_report_sql(docs_path))

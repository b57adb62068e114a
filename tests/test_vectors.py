"""The blocked Arrow kernels (functions/vectors.py): cosine against a
whole right-hand side, cosine over candidate pairs that share an LSH
bucket or an IVF cell, and the nearest-centroid pass behind IVF, PQ and
k-means.

Their column loops must give the bits of the scalar fold, and block edges
must not change results: a batch is cut into row blocks and the
collected matrix into tiles so that no block holds more than
``PAIR_BLOCK`` pairs, and the keyed self-pair sites deal blocks of at
most ``overlap.HIT_BLOCK`` candidate pairs. Shrinking the constants to a
few rows puts many block and tile boundaries inside an sf0.01 corpus;
near-dup pairs, top-k neighbours and SemDeDup flags must not change.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod
from logzilla_spark.functions import overlap, vectors
from tests.conftest import SF01, canon_rows

QUERIES = (
    "q_dedup_embedding_cosine", "q_sim_topk_bruteforce",
    # candidate pairs sharing a bucket or a cell
    "q_dedup_embedding_lsh", "q_sim_topk_lsh", "q_sim_topk_ivf",
    "q_sim_topk_ivf_trained", "q_dedup_semdedup",
)


def test_block_cosine_equals_the_sequential_loop():
    """Every cosine has the bits of the scalar fold: float32 -> double
    products summed left to right from a 0.0 seed, then
    dot / sqrt(da * db)."""
    rng = np.random.RandomState(3)
    rows = [list(map(float, rng.randn(64).astype(np.float32))) for _ in range(40)]
    rows[0][0] = -0.0
    groups = vectors._groups(pa.array(rows, pa.list_(pa.float32())))
    _, cols, dots = groups[64]
    got, null = vectors._cosine(cols, dots, cols, dots)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    want = [
        [dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)) for b in rows] for a in rows
    ]
    assert not null.any()
    assert got.tobytes() == np.array(want).tobytes()


def test_gathered_cosine_equals_the_block_loop_and_fold():
    """The candidate-pair gather loop gives :func:`vectors._cosine`'s
    entries and the scalar fold's bits for every pair of the edge rows:
    a zero vector, a -0.0 first product, a NaN, a NULL element, two
    63-wide rows and a NULL array (NULL unless both rows share a
    width and hold no NULL)."""
    rng = np.random.RandomState(11)

    def vec(n=64):
        return list(map(float, rng.randn(n).astype(np.float32)))

    rows = [vec() for _ in range(6)] + [
        [0.0] * 64,
        [-0.0] + vec(63),
        vec(7) + [float("nan")] + vec(56),
        vec(32) + [None] + vec(31),
        vec(63),
        vec(63),
        None,
    ]
    index = vectors._index(pa.array(rows, pa.list_(pa.float32())))
    ra, rb = (x.ravel() for x in np.indices((len(rows), len(rows))))
    got, null = vectors._pair_cosines(index, ra, index, rb)

    def fold(a, b):
        if a is None or b is None or len(a) != len(b) or None in a + b:
            return None

        def dot(x, y):
            acc = 0.0
            for p, q in zip(x, y):
                acc = acc + p * q
            return acc

        den = math.sqrt(dot(a, a) * dot(b, b))
        return None if den == 0 else dot(a, b) / den

    want = [fold(rows[i], rows[j]) for i, j in zip(ra, rb)]
    assert null.tolist() == [w is None for w in want]
    assert got[~null].tobytes() == np.array([w for w in want if w is not None]).tobytes()
    # and the same bits as the block loop, group by group
    width, col, groups = index
    for w, (pos, cols, dots) in groups.items():
        block, _ = vectors._cosine(cols, dots, cols, dots)
        at = np.flatnonzero((width[ra] == w) & (width[rb] == w))
        assert got[at].tobytes() == block[col[ra[at]], col[rb[at]]].tobytes()


def test_sign_buckets_equal_the_twin(spark, tmp_path):
    """Sign-LSH buckets from the Arrow pass have the DuckDB twin's bits
    on the edge rows: NaN (the largest double, so >= 0), a -0.0 first
    element, a NULL element and a short row (bucket 0), a NULL array."""
    import duckdb
    import pyarrow.parquet as pq

    from logzilla_spark import oracle_dataops
    from logzilla_spark.operators import similarity

    rng = np.random.RandomState(13)

    def vec(n=64):
        return list(map(float, rng.randn(n).astype(np.float32)))

    rows = [vec() for _ in range(20)] + [
        [0.0] * 64,
        [-0.0] + vec(63),
        vec(7) + [float("nan")] + vec(56),
        vec(32) + [None] + vec(31),
        vec(63),
        None,
    ]
    path = str(tmp_path / "emb.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(rows)), pa.int64()),
        "embedding": pa.array(rows, pa.list_(pa.float32())),
    }), path)
    got = {r.id: r.bucket for r in similarity.signlsh_buckets(spark.read.parquet(path)).collect()}
    bucket = oracle_dataops._bucket_sql("embedding", similarity.N_PLANES, similarity.EMB_DIM)
    want = dict(duckdb.sql(f"SELECT vec_id, {bucket} FROM read_parquet('{path}')").fetchall())
    assert got == want and len(set(got.values())) > 5


@pytest.mark.parametrize("name", QUERIES)
def test_small_blocks_return_the_same_rows(spark, monkeypatch, name):
    fn = entrymod.queries()[name]
    default = canon_rows(fn(spark, SF01).toPandas())
    # 64 pairs: near-dup scores 1 row x 64-row tiles, top-k (5 probes)
    # 12-row blocks, each keeping a partial top-k that _topk merges;
    # keyed sites score 64 pairs at a time in blocks of ~64 candidates
    monkeypatch.setattr(vectors, "PAIR_BLOCK", 64)
    monkeypatch.setattr(overlap, "HIT_BLOCK", 64)
    small = canon_rows(fn(spark, SF01).toPandas())
    assert sum(default.values()) > 0
    assert small == default


def test_block_l2_equals_the_sequential_loop():
    """Every squared L2 has the bits of the scalar fold: float32 ->
    double differences squared and summed left to right from 0.0."""
    rng = np.random.RandomState(5)
    rows = [list(map(float, rng.randn(8).astype(np.float32))) for _ in range(30)]
    _, cols, _ = vectors._groups(pa.array(rows, pa.list_(pa.float32())))[8]
    got = vectors._l2sq(cols, cols)

    def l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    want = [[l2sq(a, b) for b in rows] for a in rows]
    assert got.tobytes() == np.array(want).tobytes()


def test_nearest_centroid_order():
    """Cosine: NaN first, numbers descending, NULL last. L2: numbers
    ascending, then NaN, then NULL. Ties go to the lower centroid."""
    nan = float("nan")
    cents = pa.array(
        [[1.0, 0.0], [1.0, 0.0], [nan, 0.0], [0.0, 1.0], None, [1.0]],
        pa.list_(pa.float64()),
    )
    groups = vectors._groups(cents)
    rows = pa.array([[2.0, 0.0], None], pa.list_(pa.float64()))
    order, _, null = vectors._ranked(rows, groups, 6, cosine=True)
    assert order[0].tolist() == [2, 0, 1, 3, 4, 5]
    assert null[1].all() and order[1].tolist() == [0, 1, 2, 3, 4, 5]
    order, score, _ = vectors._ranked(rows, groups, 6, cosine=False)
    assert order[0].tolist() == [0, 1, 3, 2, 4, 5]
    assert score[0, :2].tolist() == [1.0, 1.0]


CENTROID_QUERIES = ("q_sim_topk_ivf_trained", "q_sim_topk_pq_trained", "q_dedup_semdedup")


@pytest.mark.parametrize("name", CENTROID_QUERIES)
def test_small_centroid_blocks_return_the_same_rows(spark, monkeypatch, name):
    """Assignment, encoding and the Lloyd partials over blocks of a few
    rows (so blocks split cells and codes) give the same rows."""
    fn = entrymod.queries()[name]
    default = canon_rows(fn(spark, SF01).toPandas())
    # 64 scores: 4-row blocks against 16 cells or 16 codes
    monkeypatch.setattr(vectors, "PAIR_BLOCK", 64)
    small = canon_rows(fn(spark, SF01).toPandas())
    assert sum(default.values()) > 0
    assert small == default


def test_training_leaves_no_cached_state(spark):
    """Both k-means trainers hold their centroids on the driver: no
    persisted RDD and no tracked frame survives them."""
    from logzilla_spark.functions import caching
    from logzilla_spark.operators import similarity

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    jsc = spark.sparkContext._jsc
    rdds, tracked = jsc.getPersistentRDDs().size(), len(caching._TRACKED)
    seeds = similarity.ivf_train_kmeans(emb, n_cells=4, n_iters=2).collect()
    books = similarity.pq_train_kmeans(emb, n_iters=2).collect()
    assert len(seeds) == 4 and len(books) == similarity.PQ_M * similarity.PQ_KSUB
    assert jsc.getPersistentRDDs().size() == rdds
    assert len(caching._TRACKED) == tracked


def test_semdedup_leaves_no_cached_state(spark):
    """SemDeDup collects its cell assignment once and pairs each cell
    in the keyed kernel: no persisted RDD and no tracked frame survives
    the query."""
    from logzilla_spark.functions import caching

    jsc = spark.sparkContext._jsc
    rdds, tracked = jsc.getPersistentRDDs().size(), len(caching._TRACKED)
    out = entrymod.queries()["q_dedup_semdedup"](spark, SF01).collect()
    assert len(out) == 500 and not all(r.is_kept for r in out)
    assert jsc.getPersistentRDDs().size() == rdds
    assert len(caching._TRACKED) == tracked

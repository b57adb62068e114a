"""The blocked Arrow cosine kernel (functions/vectors.py).

Its column loop must give the bits of the scalar fold, and block edges
must not change results: a batch is cut into row blocks and the
collected matrix into tiles so that no block holds more than
``PAIR_BLOCK`` pairs. Shrinking the constant to a few rows puts many
block and tile boundaries inside an sf0.01 corpus; near-dup pairs and
top-k neighbours must not change.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod
from logzilla_spark.functions import vectors
from tests.conftest import SF01, canon_rows

QUERIES = ("q_dedup_embedding_cosine", "q_sim_topk_bruteforce")


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


@pytest.mark.parametrize("name", QUERIES)
def test_small_blocks_return_the_same_rows(spark, monkeypatch, name):
    fn = entrymod.queries()[name]
    default = canon_rows(fn(spark, SF01).toPandas())
    # 64 pairs: near-dup scores 1 row x 64-row tiles, top-k (5 probes)
    # 12-row blocks, each keeping a partial top-k that _topk merges
    monkeypatch.setattr(vectors, "PAIR_BLOCK", 64)
    small = canon_rows(fn(spark, SF01).toPandas())
    assert sum(default.values()) > 0
    assert small == default

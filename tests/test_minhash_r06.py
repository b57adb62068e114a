"""Round-6 dedup internals: int shingle sets + unrolled est prefilter.

The r6 optimization narrowed `_minhash_features`'s `_sh` column to
array<int> and replaced the interpreted zip_with est fold with a
width-guarded unrolled IF-sum (`dedup._est_expr`). These tests pin the
two equivalence claims the optimization rests on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators import dedup


@pytest.fixture(scope="module")
def spark():
    from logzilla_spark.session import get_spark

    s = get_spark(cores=4, app_name="test_minhash_r06")
    yield s


def test_sh_is_int_and_in_range(spark):
    """_sh values are pmod(·, 2^31-1) — the int cast must be exact."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    feat = dedup._minhash_features(df)
    assert dict(feat.dtypes)["_sh"] == "array<int>"
    row = feat.agg(
        F.min(F.expr("array_min(_sh)")).alias("lo"),
        F.max(F.expr("array_max(_sh)")).alias("hi"),
    ).collect()[0]
    assert 0 <= row.lo and row.hi < dedup.P31


def test_est_unrolled_matches_fold(spark):
    """Unrolled est == interpreted fold bit-for-bit, incl. NULL sig and
    wrong-width fallbacks."""
    n = dedup.N_MINHASH
    rows = [
        (list(range(n)), list(range(n))),                  # all equal
        (list(range(n)), list(range(1, n + 1))),           # none equal
        ([i % 3 for i in range(n)], [i % 2 for i in range(n)]),
        (None, list(range(n))),                            # NULL side
        ([1, 2, 3], list(range(n))),                       # wrong width
    ]
    df = spark.createDataFrame(
        rows, "_sa array<bigint>, _sb array<bigint>"
    )
    fold = (
        "cast(size(filter(zip_with(_sa, _sb, (x, y) -> x = y), v -> v)) "
        f"as double) / {n}.0"
    )
    out = df.select(
        F.expr(fold).alias("a"),
        F.expr(dedup._est_expr("_sa", "_sb")).alias("b"),
    ).collect()
    for r in out:
        # bit-equality including NULL propagation
        assert (r.a is None and r.b is None) or r.a == r.b, r


def test_pairs_output_schema_unchanged(spark):
    """inter_n/union_n stay int/int — the int _sh cast must not leak
    a type change into the operator's public schema."""
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("dup " * (i % 2)))
         for i in range(8)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(df)
    assert [f for f, _ in pairs.dtypes] == [
        "doc_a", "doc_b", "est_sim", "inter_n", "union_n", "jaccard"
    ]
    d = dict(pairs.dtypes)
    assert d["est_sim"] == "double" and d["jaccard"] == "double"
    assert d["inter_n"] == "int" and d["union_n"] == "int"
    pairs.collect()  # executes the unrolled-est + int-intersect path

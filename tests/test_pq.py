"""Product quantization (similarity.pq_*): differential vs a pure-
Python reference, determinism, and the compression contract.

The reference implementation below computes seeded codebooks, codes
and ADC scores with explicit left-to-right float folds — the same
IEEE-754 evaluation order the Spark expressions pin — so codes match
exactly and ADC doubles match bit-for-bit (no tolerance).
"""

from __future__ import annotations

import pytest

from logzilla_spark.operators import similarity as S
from logzilla_spark.operators.dedup import cosine_expr

DIM = 16
M = 4
KSUB = 4
DSUB = DIM // M


def _vecs(n):
    # deterministic, slightly adversarial: repeated values force ties
    out = []
    for i in range(n):
        out.append([((i * 7 + j * 13) % 10) / 4.0 - 1.0 for j in range(DIM)])
    return out


def _l2sq(a, b):
    acc = 0.0
    for p, q in zip(a, b):
        d = float(p) - float(q)
        acc = acc + d * d
    return acc


def _ref_codebooks(vecs_by_id):
    ids = sorted(vecs_by_id)[:KSUB]
    cb = {}  # (sub, code) -> codeword
    for code, vid in enumerate(ids):
        v = vecs_by_id[vid]
        for sub in range(M):
            cb[(sub, code)] = v[sub * DSUB : (sub + 1) * DSUB]
    return cb

def _ref_encode(v, cb):
    codes = []
    for sub in range(M):
        sv = v[sub * DSUB : (sub + 1) * DSUB]
        best = min(
            range(KSUB), key=lambda c: (_l2sq(sv, cb[(sub, c)]), c)
        )
        codes.append(best)
    return codes


def _ref_adc(probe, codes, cb):
    acc = 0.0
    for sub in range(M):
        sv = probe[sub * DSUB : (sub + 1) * DSUB]
        acc = acc + _l2sq(sv, cb[(sub, codes[sub])])
    return acc


@pytest.fixture(scope="module")
def emb_df(spark):
    vecs = _vecs(40)
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_pq_encode_matches_reference(spark, emb_df):
    vecs = {i: v for i, v in enumerate(_vecs(40))}
    # float32 storage: the reference must quantize through float32 too
    import struct as _st

    f32 = lambda x: _st.unpack("f", _st.pack("f", x))[0]  # noqa: E731
    vecs = {i: [f32(x) for x in v] for i, v in vecs.items()}
    cb = _ref_codebooks(vecs)
    want = {i: _ref_encode(v, cb) for i, v in vecs.items()}
    got = {
        r.vec_id: list(r.codes)
        for r in S.pq_encode(
            emb_df, S.pq_codebooks_seeded(emb_df, M, KSUB, DIM), M, DIM
        ).collect()
    }
    assert got == want


def test_pq_topk_matches_reference_bitexact(spark, emb_df):
    import struct as _st

    f32 = lambda x: _st.unpack("f", _st.pack("f", x))[0]  # noqa: E731
    vecs = {i: [f32(x) for x in v] for i, v in enumerate(_vecs(40))}
    cb = _ref_codebooks(vecs)
    codes = {i: _ref_encode(v, cb) for i, v in vecs.items()}
    probes = {i: vecs[i] for i in vecs if i % 10 == 0}
    want = {}
    for pid, pv in probes.items():
        scored = sorted(
            ((_ref_adc(pv, codes[nid], cb), nid) for nid in vecs if nid != pid)
        )
        for rank, (adc, nid) in enumerate(scored[:3], 1):
            want[(pid, nid)] = (adc, rank)

    probes_df = emb_df.filter("vec_id % 10 = 0")
    got = {
        (r.probe_id, r.neighbor_id): (r.adc, r.rank)
        for r in S.pq_topk(emb_df, probes_df, k=3, m=M, ksub=KSUB, dim=DIM).collect()
    }
    assert set(got) == set(want)
    for key, (adc, rank) in want.items():
        g_adc, g_rank = got[key]
        assert g_rank == rank
        assert g_adc == adc  # bit-exact: pinned fold order on both sides


def test_pq_compression_contract(spark, emb_df):
    """The serving-side table is m small ints per vector — the whole
    point of PQ at 100 TB: the top-k scan touches codes, never raw
    embeddings (dim x 4 B -> m ints; 32x smaller at the default
    64-dim/8-sub config)."""
    enc = S.pq_encode(emb_df, S.pq_codebooks_seeded(emb_df, M, KSUB, DIM), M, DIM)
    assert dict(enc.dtypes) == {"vec_id": "bigint", "codes": "array<int>"}
    rows = enc.collect()
    assert all(len(r.codes) == M for r in rows)
    assert all(0 <= c < KSUB for r in rows for c in r.codes)


def test_pq_rejects_indivisible_dim(spark, emb_df):
    with pytest.raises(ValueError):
        S.pq_codebooks_seeded(emb_df, m=5, ksub=KSUB, dim=DIM)


def test_pq_topk_ivf_consistent_with_components(spark, emb_df):
    """IVF x PQ composition: every returned neighbor lives in one of
    its probe's nprobe cells, and its adc equals the pure-PQ adc for
    the same (probe, neighbor) pair (the composition changes the
    CANDIDATE SET, never the score)."""
    from pyspark.sql import functions as F

    probes_df = emb_df.filter("vec_id % 10 = 0")
    ivfpq = S.pq_topk_ivf(
        emb_df, probes_df, k=3, m=M, ksub=KSUB, dim=DIM, n_cells=4, nprobe=2
    ).collect()
    assert ivfpq and all(r.rank <= 3 for r in ivfpq)

    # score consistency vs the unpruned PQ scorer
    pq_all = {
        (r.probe_id, r.neighbor_id): r.adc
        for r in S.pq_topk(
            emb_df, probes_df, k=len(emb_df.collect()), m=M, ksub=KSUB, dim=DIM
        ).collect()
    }
    for r in ivfpq:
        assert pq_all[(r.probe_id, r.neighbor_id)] == r.adc

    # candidate-set consistency vs the IVF assignment
    seeds = S.ivf_seeds(emb_df, 4)
    cell_of = {
        r.id: r.cell for r in S.ivf_assign(emb_df, seeds).collect()
    }
    pc = (
        probes_df.select(F.col("vec_id").alias("probe_id"), "embedding")
        .crossJoin(F.broadcast(seeds))
        .withColumn("_cos", F.expr(cosine_expr("embedding", "seed")))
        .collect()
    )
    by_probe = {}
    for row in pc:
        by_probe.setdefault(row.probe_id, []).append((-row._cos, row.cell))
    probe_cells = {
        p: {c for _, c in sorted(v)[:2]} for p, v in by_probe.items()
    }
    for r in ivfpq:
        assert cell_of[r.neighbor_id] in probe_cells[r.probe_id]


def test_pq_train_kmeans_deterministic_and_improving(spark, emb_df):
    """Trained codebooks: same input -> identical codebooks across two
    runs (seeded init, fixed iterations, pinned tie-breaks), codebook
    shape preserved, and total quantization error does not increase
    vs the seeded init (Lloyd iterations are non-increasing in the
    summed assignment distance)."""
    from pyspark.sql import functions as F

    cb1 = {
        (r.sub, r.code): list(r.codeword)
        for r in S.pq_train_kmeans(emb_df, M, KSUB, DIM, n_iters=3).collect()
    }
    cb2 = {
        (r.sub, r.code): list(r.codeword)
        for r in S.pq_train_kmeans(emb_df, M, KSUB, DIM, n_iters=3).collect()
    }
    assert cb1 == cb2
    assert len(cb1) == M * KSUB
    assert all(len(cw) == DSUB for cw in cb1.values())

    def total_err(cb_df):
        sv = emb_df.select(
            F.explode(F.expr(S._subvectors("embedding", M, DIM))).alias("_s")
        ).select(F.col("_s.sub").alias("sub"), F.col("_s.sv").alias("sv"))
        return (
            sv.join(F.broadcast(cb_df), "sub")
            .withColumn("_d", F.expr(S.l2sq_expr("sv", "codeword")))
            .groupBy("sub", "sv")
            .agg(F.min("_d").alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    seeded_err = total_err(S.pq_codebooks_seeded(emb_df, M, KSUB, DIM))
    trained_err = total_err(
        S.pq_train_kmeans(emb_df, M, KSUB, DIM, n_iters=3)
    )
    assert trained_err <= seeded_err + 1e-9

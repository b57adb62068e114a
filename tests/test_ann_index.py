"""Persisted ANN index (operators/ann_index.py): build-once/serve-many
IVF x PQ over the catalog.

Gates:
- served results == the inline similarity.pq_topk_ivf bit-for-bit
  (same seeded quantizers; parquet round-trip must not perturb bits)
- serve-time file pruning is REAL: the codes read lists only files of
  the probed cells, a strict subset of the index when nprobe < n_cells
- trained build is bit-reproducible across input partitionings
  (fixed-point k-means) and serves k ranked rows per probe
- rebuild over changed corpus is an atomic snapshot bump; the old
  snapshot still reads (catalog time travel applies to the index)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators import ann_index, similarity
from logzilla_spark.sources.catalog import LocalCatalog

N_VECS = 120
DIM = 16
M = 4
KSUB = 8
N_CELLS = 4
NPROBE = 2


def _emb(spark, n=N_VECS, salt=0):
    """Deterministic synthetic embeddings (md5-derived, no RNG)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, {d}), p -> "
            "cast(conv(substring(md5(concat(cast(id as string), '_', "
            "cast(p as string), '_{s}')), 1, 6), 16, 10) as double) "
            "/ 16777215.0 - 0.5)".format(d=DIM - 1, s=salt)
        ).alias("embedding"),
    )


def _probes(emb):
    return emb.filter(F.col("vec_id") % 10 == 0)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("ann_wh")
    cat = LocalCatalog(str(wh))
    emb = _emb(spark)
    desc = ann_index.build_ann_index(
        emb, cat, "emb", m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS
    )
    return cat, emb, desc


def test_build_commits_three_tables(spark, built):
    cat, _emb_df, desc = built
    assert ann_index.ann_index_exists(cat, "emb")
    assert not ann_index.ann_index_exists(cat, "nope")
    codes = cat.read(spark, "emb__codes")
    assert codes.count() == N_VECS
    row = codes.orderBy("vec_id").first()
    assert len(row["codes"]) == M and 0 <= row["cell"] < N_CELLS
    assert cat.read(spark, "emb__centroids").count() == N_CELLS
    assert cat.read(spark, "emb__codebooks").count() == M * KSUB
    assert desc["snapshots"].keys() == {"centroids", "codebooks", "codes"}


def test_served_equals_inline_bit_for_bit(spark, built):
    cat, emb, _ = built
    probes = _probes(emb)
    served = ann_index.ann_serve_topk(
        spark, cat, "emb", probes, nprobe=NPROBE, m=M, dim=DIM
    )
    inline = similarity.pq_topk_ivf(
        emb, probes, m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS, nprobe=NPROBE
    )
    s = [tuple(r) for r in served.orderBy("probe_id", "rank").collect()]
    i = [tuple(r) for r in inline.orderBy("probe_id", "rank").collect()]
    assert len(s) > 0
    # exact tuple equality: ids, ranks AND the adc double bits
    assert s == i


def test_serve_prunes_unprobed_cell_files(spark, built):
    cat, emb, _ = built
    # ONE probe -> exactly nprobe(=2) of the 4 cells probed, so the
    # subset assertion below has teeth (the full probe set covers
    # every cell at this toy scale)
    probes = emb.filter(F.col("vec_id") == 0)
    probe_cells = similarity.probe_nearest_cells(
        probes, cat.read(spark, "emb__centroids"), NPROBE
    )
    cells = {r["cell"] for r in probe_cells.select("cell").distinct().collect()}
    pruned = cat.read_partitions(
        spark, "emb__codes", "cell", [str(c) for c in sorted(cells)]
    )
    all_files = set(cat.read(spark, "emb__codes").inputFiles())
    pruned_files = set(pruned.inputFiles())
    assert pruned_files, "pruned read lists no files"
    assert all(
        any(f"cell={c}" in f for c in cells) for f in pruned_files
    ), "pruned read lists a file outside the probed cells"
    if len(cells) < N_CELLS:
        assert pruned_files < all_files, (
            "nprobe < n_cells but the pruned read lists the whole index"
        )
    # the synthetic probes must not hit every cell, else the subset
    # assertion above is vacuous
    assert len(cells) < N_CELLS


def test_served_trained_is_bit_reproducible(spark, tmp_path):
    """r5 upgrade of the old rows-only sanity check: fixed-point
    k-means made training a pure function of the corpus, so two
    independent trained builds — over DIFFERENT input partitionings —
    must serve bit-identical results (ranks AND float ADC scores),
    with bit-equal committed quantizer artifacts."""
    emb = _emb(spark, n=80)
    probes = _probes(emb)

    def build_and_serve(name, frame):
        cat = LocalCatalog(str(tmp_path / name))
        ann_index.build_ann_index(
            frame, cat, "t", trained=True, m=M, ksub=KSUB, dim=DIM,
            n_cells=N_CELLS, ivf_iters=2, pq_iters=2,
        )
        out = sorted(
            map(
                tuple,
                ann_index.ann_serve_topk(
                    spark, cat, "t", probes, k=3, nprobe=NPROBE, m=M, dim=DIM
                ).collect(),
            )
        )
        cents = sorted(
            (r.cell, tuple(r.seed))
            for r in cat.read(spark, "t__centroids").collect()
        )
        cbs = sorted(
            (r.sub, r.code, tuple(r.codeword))
            for r in cat.read(spark, "t__codebooks").collect()
        )
        return out, cents, cbs

    a = build_and_serve("wh_a", emb.coalesce(1))
    b = build_and_serve("wh_b", emb.repartition(7))
    assert a == b
    out = a[0]
    n_probes = probes.count()
    assert len(out) == 3 * n_probes
    by_probe = {}
    for r in out:
        by_probe.setdefault(r[0], []).append(r[-1])
    assert all(sorted(v) == [1, 2, 3] for v in by_probe.values())


def test_rebuild_is_snapshot_bump_with_time_travel(spark, tmp_path):
    cat = LocalCatalog(str(tmp_path / "wh"))
    emb1 = _emb(spark, n=60)
    d1 = ann_index.build_ann_index(
        emb1, cat, "v", m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS
    )
    emb2 = _emb(spark, n=90, salt=1)
    d2 = ann_index.build_ann_index(
        emb2, cat, "v", m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS
    )
    assert d2["snapshots"]["codes"] > d1["snapshots"]["codes"]
    assert cat.read(spark, "v__codes").count() == 90
    old = cat.read(spark, "v__codes", snapshot_id=d1["snapshots"]["codes"])
    assert old.count() == 60


def test_empty_probe_set_returns_empty(spark, built):
    cat, emb, _ = built
    none = emb.filter(F.col("vec_id") < 0)
    out = ann_index.ann_serve_topk(spark, cat, "emb", none, m=M, dim=DIM)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "probe_id", "neighbor_id", "adc", "rank",
    ]


def test_incremental_update_serves_old_and_new(spark, tmp_path):
    """update_ann_index appends new vectors encoded with the COMMITTED
    quantizers (FAISS add() contract): serving afterwards equals a
    manual expected set built from the same frozen quantizers over the
    union corpus — bit-for-bit — and new vectors are reachable. Build
    and update run their own actions and release their persists
    themselves: neither leaves a handle in the tracked-cache registry."""
    from logzilla_spark.functions import caching

    cat = LocalCatalog(str(tmp_path / "wh"))
    old = _emb(spark, n=N_VECS)
    new = _emb(spark, n=40, salt=9).withColumn(
        "vec_id", F.col("vec_id") + N_VECS
    )
    tracked = len(caching._TRACKED)
    ann_index.build_ann_index(old, cat, "emb", m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS)
    ann_index.update_ann_index(new, cat, "emb")
    assert len(caching._TRACKED) == tracked
    probes = _probes(old.unionByName(new))
    served = ann_index.ann_serve_topk(
        spark, cat, "emb", probes, nprobe=NPROBE, m=M, dim=DIM
    )
    s = [tuple(r) for r in served.orderBy("probe_id", "rank").collect()]

    # expected: same FROZEN quantizers (from the old corpus), codes over
    # the union — the building blocks the serve path composes
    seeds = similarity.ivf_seeds(old, N_CELLS)
    books = similarity.pq_codebooks_seeded(old, M, KSUB, DIM)
    union = old.unionByName(new)
    assigned = similarity.ivf_assign(union, seeds).select(
        F.col("id").alias("vec_id"), "cell"
    )
    codes = similarity.pq_encode(union, books, M, DIM).join(assigned, "vec_id")
    pc = similarity.probe_nearest_cells(probes, seeds, NPROBE)
    luts = similarity.pq_probe_luts(probes, books, M, DIM)
    pairs = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes", "cell")
        .join(F.broadcast(pc.select("probe_id", "cell").join(luts, "probe_id")), "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
    )
    want = [
        tuple(r)
        for r in similarity.adc_topk(pairs, similarity.DEFAULT_K)
        .orderBy("probe_id", "rank")
        .collect()
    ]
    assert len(s) > 0 and s == want
    # new vectors actually serve: some neighbor id is from the update
    assert any(t[1] >= N_VECS for t in s)


def test_update_requires_existing_index(spark, tmp_path):
    from logzilla_spark.sources.catalog import SnapshotError

    cat = LocalCatalog(str(tmp_path / "wh"))
    with pytest.raises(SnapshotError):
        ann_index.update_ann_index(_emb(spark, n=5), cat, "nope")


def test_update_after_compaction_finds_params(spark, tmp_path):
    """A compact() snapshot records its own summary; update must walk
    back to the newest snapshot carrying the build params."""
    cat = LocalCatalog(str(tmp_path / "wh"))
    old = _emb(spark, n=N_VECS)
    ann_index.build_ann_index(old, cat, "emb", m=M, ksub=KSUB, dim=DIM, n_cells=N_CELLS)
    cat.compact(spark, "emb" + ann_index.CODES_SUFFIX, partition_by="cell")
    new = _emb(spark, n=10, salt=3).withColumn("vec_id", F.col("vec_id") + N_VECS)
    ann_index.update_ann_index(new, cat, "emb")
    codes = cat.read(spark, "emb" + ann_index.CODES_SUFFIX)
    assert codes.count() == N_VECS + 10
    assert codes.select("vec_id").distinct().count() == N_VECS + 10

"""Persisted ANN index: build once, serve many (catalog-backed IVF x PQ).

The inline ANN paths (``similarity.pq_topk_ivf`` and friends) re-derive
the quantizers and re-encode the corpus inside every query — the right
shape for oracle checking, the wrong one for production: at 100 TB the
index build is a (rare) batch job, and a query must touch only the
(cell, codes) rows of the cells it probes. This module persists the
three index artifacts as snapshot-versioned catalog tables
(``sources.catalog.LocalCatalog`` — atomic publish, time travel):

- ``<name>__centroids``  : (cell, seed)          — k rows
- ``<name>__codebooks``  : (sub, code, codeword) — m x ksub rows
- ``<name>__codes``      : (vec_id, codes, cell) — one row per vector,
                           PARTITIONED BY cell

and serves top-k from them with zero training or encoding at query
time.

Serve-time pruning — the point of the layout: ``ann_serve_topk`` reads
the codes table through ``LocalCatalog.read_partitions``, so only the
data files of the probed cells are listed, opened, or scanned (catalog
file-level pruning; with ``nprobe`` of ``n_cells`` cells probed the
serving scan reads ~nprobe/n_cells of the index bytes — asserted on
real file lists in tests/test_ann_index.py). The probed-cell list is a
<= n_cells-int driver artifact, the same sanctioned class as the
changed-month list in the streaming aggregate sink.

Determinism: every artifact is a pure function of the corpus —
seeded quantizers trivially, and since r5 the TRAINED quantizers too
(fixed-point centroid means, see ivf_train_kmeans) — parquet
round-trips doubles bit-exactly, and the ADC fold is pinned
left-to-right. A served seeded query equals ``similarity.pq_topk_ivf``
bit-for-bit and shares its DuckDB twin; a trained build is
bit-reproducible under any input partitioning (the persistence layer
is proven to not perturb a single bit either way).

Reference parity: the reference (thisisjab/logzilla) has no ANN layer;
this extends the training-data brief's similarity-search requirement
with the serving shape FAISS's IVFPQ family (Jégou '11, public paper)
uses at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from logzilla_spark.functions.caching import persist_tracked
from logzilla_spark.operators.similarity import (
    DEFAULT_K,
    EMB_DIM,
    IVF_CELLS,
    IVF_NPROBE,
    IVF_TRAIN_ITERS,
    PQ_KSUB,
    PQ_M,
    PQ_TRAIN_ITERS,
    adc_topk,
    ivf_assign,
    ivf_seeds,
    ivf_train_kmeans,
    pq_codebooks_seeded,
    pq_encode,
    pq_probe_luts,
    pq_train_kmeans,
    probe_nearest_cells,
)
from logzilla_spark.sources.catalog import LocalCatalog, SnapshotError

CENTROIDS_SUFFIX = "__centroids"
CODEBOOKS_SUFFIX = "__codebooks"
CODES_SUFFIX = "__codes"


def build_ann_index(
    emb: DataFrame,
    catalog: LocalCatalog,
    name: str,
    trained: bool = False,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    n_cells: int = IVF_CELLS,
    ivf_iters: int = IVF_TRAIN_ITERS,
    pq_iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build the IVF x PQ index over ``emb`` and commit it as three
    catalog tables (atomic snapshots; re-building overwrites, readers
    of the previous snapshot are unaffected — catalog semantics).

    Scale shape: the vector frame is persisted once and feeds both the
    cell assignment and the PQ encoding (one corpus materialization,
    not one per artifact; with ``trained=True`` the k-means loops read
    the same persisted frame and return local relations). Each
    artifact write is one nearest-centroid pass, no corpus broadcast,
    plus a partitionBy(cell) parquet write whose fan-out is bounded by
    n_cells. Returns the index descriptor (params + committed snapshot
    ids).
    """
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if trained:
            seeds = ivf_train_kmeans(vecs, n_cells, ivf_iters)
            codebooks = pq_train_kmeans(vecs, m, ksub, dim, pq_iters)
        else:
            seeds = ivf_seeds(vecs, n_cells)
            codebooks = pq_codebooks_seeded(vecs, m, ksub, dim)
        assigned = ivf_assign(vecs, seeds).select(
            F.col("id").alias("vec_id"), "cell"
        )
        codes = pq_encode(vecs, codebooks, m, dim).join(assigned, "vec_id")
        params = {
            "m": str(m), "ksub": str(ksub), "dim": str(dim),
            "n_cells": str(n_cells), "trained": str(bool(trained)),
        }
        sids = {
            "centroids": catalog.overwrite(
                seeds, name + CENTROIDS_SUFFIX, summary=params
            ),
            "codebooks": catalog.overwrite(
                codebooks, name + CODEBOOKS_SUFFIX, summary=params
            ),
            "codes": catalog.overwrite(
                codes, name + CODES_SUFFIX, partition_by=["cell"], summary=params
            ),
        }
    finally:
        # the build runs its own actions: every consumer of the cached
        # frame ran inside the overwrite jobs above, so it owns and
        # releases them here (functions/caching.py)
        vecs.unpersist()
    return {
        "name": name,
        "m": m,
        "ksub": ksub,
        "dim": dim,
        "n_cells": n_cells,
        "trained": bool(trained),
        "snapshots": sids,
    }


def update_ann_index(
    emb_new: DataFrame,
    catalog: LocalCatalog,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental index maintenance (the FAISS ``add()`` contract):
    encode NEW vectors with the index's COMMITTED quantizers — the
    centroids and codebooks are read, never retrained — and APPEND
    their (vec_id, codes, cell) rows to the codes table under the
    right cell partitions. Serving then covers old + new vectors with
    unchanged pruning (the appended files live under their cell=
    directories like the base build's).

    Self-configuring: m / dim come from the params the build recorded
    in the codes table's snapshot summary. Caller contract: ``emb_new``
    holds ids not already indexed (append-only engine — re-adding an
    id would duplicate it, same as Iceberg append semantics).

    At 100 TB this is the difference between re-encoding the corpus
    per refresh and touching only the delta; quantizer DRIFT (new data
    far from the trained cells) degrades recall, not correctness —
    rebuild via build_ann_index when the recall report says so.
    Returns {"codes": snapshot_id}.
    """
    codes_tbl = name + CODES_SUFFIX
    sid = catalog.last_snapshot_id(codes_tbl)
    if sid is None:
        raise SnapshotError(f"ann index {name!r} does not exist — build it first")
    # newest snapshot whose summary carries the build params (an
    # intervening compact/rollback records its own summary instead)
    params = None
    for s in reversed(catalog.snapshot_ids(codes_tbl)):
        cand = catalog.snapshot_summary(codes_tbl, s)
        if "m" in cand and "dim" in cand:
            params = {k: cand[k] for k in ("m", "ksub", "dim", "n_cells", "trained")}
            break
    if params is None:
        raise SnapshotError(
            f"ann index {name!r}: no snapshot records build params"
        )
    m, dim = int(params["m"]), int(params["dim"])
    seeds = catalog.read(emb_new.sparkSession, name + CENTROIDS_SUFFIX)
    codebooks = catalog.read(emb_new.sparkSession, name + CODEBOOKS_SUFFIX)
    vecs = emb_new.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assigned = ivf_assign(vecs, seeds).select(
            F.col("id").alias("vec_id"), "cell"
        )
        delta = pq_encode(vecs, codebooks, m, dim).join(assigned, "vec_id")
        new_sid = catalog.append(
            delta, codes_tbl, partition_by=["cell"], summary=dict(params)
        )
    finally:
        vecs.unpersist()
    return {"codes": new_sid}


def ann_index_exists(catalog: LocalCatalog, name: str) -> bool:
    return all(
        catalog.exists(name + sfx)
        for sfx in (CENTROIDS_SUFFIX, CODEBOOKS_SUFFIX, CODES_SUFFIX)
    )


def ann_serve_topk(
    spark: SparkSession,
    catalog: LocalCatalog,
    name: str,
    probes: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    dim: int = EMB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for each probe, served ENTIRELY from the
    persisted index: centroids pick each probe's nprobe cells, probe
    LUTs come from the codebooks table, and candidates are scored by
    ADC over the codes table — raw corpus embeddings are never read.

    The codes read goes through ``read_partitions`` on the probed-cell
    list (collected at the driver: <= n_cells ints), so unprobed cells'
    files are never listed or opened. Output matches
    ``similarity.pq_topk_ivf(emb, probes, ...)`` bit-for-bit when the
    index was built un-trained over the same corpus.
    """
    seeds = catalog.read(spark, name + CENTROIDS_SUFFIX)
    codebooks = catalog.read(spark, name + CODEBOOKS_SUFFIX)
    # two consumers of the (tiny) probe->cell frame: the driver-side
    # partition list and the serve join — persist so centroid scoring
    # runs once; released by the tracked-cache registry, not here (the
    # returned plan still reads it lazily)
    probe_cells = persist_tracked(
        probe_nearest_cells(probes, seeds, nprobe, id_col, vec_col)
    )
    cells = sorted(
        r["cell"] for r in probe_cells.select("cell").distinct().collect()
    )
    if not cells:  # empty probe set -> empty result, index untouched
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, adc double, rank int"
        )
    codes = catalog.read_partitions(
        spark, name + CODES_SUFFIX, "cell", [str(c) for c in cells]
    )
    if codes is None:
        raise SnapshotError(
            f"ann index {name!r}: codes table has no files for probed "
            f"cells {cells} — index out of sync with centroids"
        )
    luts = pq_probe_luts(probes, codebooks, m, dim, id_col, vec_col)
    # broadcast: the nearest-centroid pass leaves probe_cells unpartitioned
    probe_side = F.broadcast(probe_cells.select("probe_id", "cell")).join(
        luts, "probe_id"
    )
    pairs = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes", "cell")
        .join(F.broadcast(probe_side), "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
    )
    return adc_topk(pairs, k)

"""Similarity search over embedding columns (training-data pipeline).

Approximate-nearest-neighbor over ``array<float>`` embeddings:

- ``cosine_topk``            : brute-force exact top-k (baseline + recall
                               oracle for the LSH path)
- ``signlsh_buckets``        : deterministic random-hyperplane sign
                               buckets (Charikar '02)
- ``cosine_topk_lsh``        : bucketed ANN with hamming-1 multiprobe
- ``embedding_neardup_lsh``  : near-dup pairs restricted to shared
                               buckets (the scale path for
                               dedup.embedding_neardup_pairs)

All cosine and squared-L2 math runs in the Arrow kernels of
``functions.vectors``, whose pinned-order numpy sums give the bits of
the ``operators.dedup.cosine_expr`` fold, so the DuckDB oracle
reproduces the exact doubles. Hyperplanes come from
``functions.hashing.hyperplanes``, one source for both engines.

Scale notes (100 TB / 1000 executors):
- Brute force is O(probes × corpus) — fine only when the probe side is
  small enough to broadcast (the driver collects it once and ships it
  in the kernel's closure). The corpus side streams: no shuffle of the
  big table at all.
- LSH and IVF top-k stream the corpus with its bucket or cell against
  the probes collected with their keys; LSH near-dup and SemDeDup
  collect the keyed frame once and pair rows inside each key. Raise
  ``n_planes`` as the corpus grows (buckets ~ corpus/2^planes).
- Top-k per probe is a window over candidates only, never the corpus.
- IVF/PQ quantizers are collected to the driver; assignment and
  encoding stream the corpus, and each k-means iteration is one pass.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from logzilla_spark.functions.hashing import hyperplanes
from logzilla_spark.functions.vectors import (
    code_distances,
    cosine_topk_partial,
    keyed_cosines,
    keyed_pairs,
    lloyd,
    nearest_cells,
    nearest_codes,
    sign_buckets,
)
from logzilla_spark.operators.dedup import COSINE_THRESHOLD

N_PLANES = 8
EMB_DIM = 64
DEFAULT_K = 5


def signlsh_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(id, embedding, bucket): bit j set iff dot(vec, hyperplane_j) >=
    0 as the pinned fold, 0 for a vector not exactly ``dim`` wide or
    holding a NULL. One Arrow pass, no shuffle."""
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"))
    return sign_buckets(vecs, hyperplanes(n_planes, dim))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per probe: cosine desc, id asc tiebreak."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each probe.

    The blocked Arrow kernel (``functions.vectors.cosine_topk_partial``):
    the probe side is collected once as the matrix, the corpus side
    streams with no shuffle, and each block keeps every probe's ``k``
    best rows; :func:`_topk` ranks their union. Cosine bits are the
    :func:`dedup.cosine_expr` fold's. Self-matches (same id) are
    excluded; NULL cosines rank after every non-NULL one.
    """
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_ce"))
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pe"))
    return _topk(cosine_topk_partial(c, p, k), k)


def cosine_topk_lsh(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows whose sign-LSH bucket
    is within hamming distance 1 of the probe's bucket (multiprobe).

    The bucketed corpus streams against the probe x (1+n_planes)
    multiprobe keys collected to the driver; exact cosine is computed
    for candidates only.
    """
    cb = signlsh_buckets(emb, id_col, vec_col, n_planes, dim).select(
        F.col("id").alias("neighbor_id"), F.col("embedding").alias("_ce"), "bucket"
    )
    flips = "array(" + ", ".join(
        ["bucket"] + [f"bucket ^ {1 << j}L" for j in range(n_planes)]
    ) + ")"
    probe_keys = signlsh_buckets(probes, id_col, vec_col, n_planes, dim).select(
        F.col("id").alias("probe_id"), F.col("embedding").alias("_pe"),
        F.explode(F.expr(flips)).alias("bucket"),
    )
    return _topk(keyed_cosines(cb, probe_keys).distinct(), k)


def _pair_rows(cols, a, b, cos) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [cols[0].take(a), cols[0].take(b), pa.array(cos, pa.float64())],
        names=["vec_a", "vec_b", "cosine"],
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = COSINE_THRESHOLD,
    n_planes: int = N_PLANES,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Near-dup pairs restricted to same-bucket candidates — the scale
    path for ``dedup.embedding_neardup_pairs`` (which is its recall
    oracle at CI scale). The bucketed frame is collected once and exact
    cosine verified inside buckets only."""
    b = signlsh_buckets(emb, id_col, vec_col, n_planes, dim)
    ab = [StructField(c, b.schema["id"].dataType) for c in ("vec_a", "vec_b")]
    schema = StructType(ab + [StructField("cosine", DoubleType())])
    return keyed_pairs(emb.sparkSession, b.toArrow(), threshold, None, _pair_rows, schema).distinct()


# IVF coarse quantization: cells, and how many nearest cells a probe
# searches (nprobe). Raise IVF_CELLS with corpus size (cell occupancy
# ~ corpus / cells); raise IVF_NPROBE for recall.
IVF_CELLS = 16
IVF_NPROBE = 2

def ivf_seeds(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, seed): the ``n_cells`` lowest-id vectors as cell
    centroids — a deterministic coarse quantizer with zero training
    cost, and the k-means init used by :func:`ivf_train_kmeans` (whose
    fixed-point means make the TRAINED quantizer bit-portable too).
    Both keep the IVF plan shape (assign -> invert -> probe nprobe
    cells) exact and oracle-checkable; swap any (cell, seed) frame
    into the functions below.

    The global orderBy+limit runs on k rows only (single tiny task);
    the row_number window is over the k-row result, not the corpus.
    """
    w = Window.orderBy("id")
    return (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("seed"))
        .orderBy("id")
        .limit(int(n_cells))
        .withColumn("cell", (F.row_number().over(w) - 1).cast("int"))
        .select("cell", "seed")
    )


def ivf_assign(
    emb: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, cell, centroid_cos): each vector with its nearest
    seed by cosine (NaN first, NULL last, ties -> lowest cell) and that
    cosine. The k-row seed table is collected to the driver and the
    corpus streams through ``functions.vectors.nearest_cells`` — no
    shuffle, one output row per input row."""
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"))
    return nearest_cells(vecs, seeds.select("cell", "seed"), 1).withColumnRenamed(
        "cosine", "centroid_cos"
    )


def probe_nearest_cells(
    probes: DataFrame,
    seeds: DataFrame,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(probe_id, _pe, cell): each probe's ``nprobe`` nearest cells by
    centroid cosine, in :func:`ivf_assign`'s order — shared by every
    IVF-family query path and the persisted-index server
    (operators.ann_index)."""
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pe"))
    return nearest_cells(p, seeds.select("cell", "seed"), int(nprobe)).select(
        "probe_id", "_pe", "cell"
    )


def cosine_topk_ivf(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Approximate top-k via IVF: exact cosine only against corpus
    vectors living in each probe's ``nprobe`` nearest cells.

    The corpus is assigned to cells once (one nearest-centroid pass,
    no shuffle) and streams against the probe->cells set collected to
    the driver. A corpus vector lives in exactly ONE
    cell and a probe's nprobe cells are distinct, so candidate pairs
    are already unique — no distinct needed (unlike the LSH multiprobe
    path). Complements cosine_topk_lsh: IVF buckets adapt to the data
    (seeds come from the corpus), LSH buckets are data-independent.
    """
    seeds = ivf_seeds(emb, n_cells, id_col, vec_col)
    return _ivf_topk(emb, probes, seeds, k, nprobe, id_col, vec_col)


def _ivf_topk(emb, probes, seeds, k, nprobe, id_col, vec_col) -> DataFrame:
    """The IVF serve body over any (cell, seed) quantizer."""
    corpus = ivf_assign(emb, seeds, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("embedding").alias("_ce"), "cell"
    )
    cells = probe_nearest_cells(probes, seeds, nprobe, id_col, vec_col)
    return _topk(keyed_cosines(corpus, cells), k)


IVF_TRAIN_ITERS = 5


def ivf_train_kmeans(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    n_iters: int = IVF_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF coarse quantizer: deterministic Lloyd k-means over
    cosine assignment (spherical k-means without the normalization
    step — ivf_assign already scores by cosine, so centroid SCALE never
    changes an assignment). Returns (cell, seed) — a drop-in
    replacement for :func:`ivf_seeds`'s output that adapts cells to
    the data distribution (measured recall uplift:
    BENCH/ANN_RECALL.md).

    Deterministic by construction: init = ivf_seeds (lowest-id
    vectors), a FIXED iteration count (no data-dependent convergence
    test), ivf_assign's tie-breaks, and FIXED-POINT means
    (``functions.vectors.lloyd``): components quantize to
    ``floor(v * 2^IVF_FP_BITS)``, exact BIGINT sums are
    order-INDEPENDENT, and ``floor(sum/n) / 2^IVF_FP_BITS`` is a pure
    function of exact integers. Training is therefore bit-portable and
    the trained query is HASH-gated against the DuckDB twin
    (oracle_dataops.cosine_topk_ivf_trained_sql). Exactness bound:
    |sum| < 2^53, i.e. fewer than ~536M vectors per cell. Empty cells
    keep their previous centroid, so k never silently shrinks. Scale
    shape: the centroids stay on the driver; each iteration is one Arrow
    pass over the corpus (no shuffle, no cache, no lineage to truncate).
    """
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return lloyd(vecs, ivf_seeds(emb, n_cells, id_col, vec_col), n_iters)


def cosine_topk_ivf_trained(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    n_iters: int = IVF_TRAIN_ITERS,
) -> DataFrame:
    """cosine_topk_ivf with k-means-trained centroids instead of the
    seeded quantizer — same plan shape (assign -> invert -> probe
    nprobe cells), better cell geometry. Hash-gated: fixed-point
    training (ivf_train_kmeans) makes the whole query bit-portable to
    oracle_dataops.cosine_topk_ivf_trained_sql; recall vs the exact
    baseline is quantified in BENCH/ANN_RECALL.md.
    """
    seeds = ivf_train_kmeans(emb, n_cells, n_iters, id_col, vec_col)
    return _ivf_topk(emb, probes, seeds, k, nprobe, id_col, vec_col)


# SemDeDup cell-size guard: cells larger than this skip the pairwise
# stage entirely (all members kept) — the MAX_LSH_BUCKET posture: a
# degenerate quantizer (all embeddings identical) must not buy a
# corpus-squared pair stage. Raise n_cells, don't raise the guard.
MAX_SEMDEDUP_CELL = 10_000


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = COSINE_THRESHOLD,
    n_cells: int = IVF_CELLS,
    max_cell: int = MAX_SEMDEDUP_CELL,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    clusters — assign every vector to its nearest coarse-quantizer
    cell, compare pairs WITHIN a cell only, and for every near-dup
    relation keep the member FARTHEST from the cell centroid (the
    paper's keep-low-centroid-similarity rule: the most atypical
    member carries the most information). A vector is dropped iff some
    same-cell vector y has cosine(x, y) >= ``threshold`` and y wins
    the keep-priority ((centroid_cos ASC, id ASC) — deterministic,
    exact-double comparison, both engines agree bit-for-bit).

    Output: one row per vector — (id, cell, centroid_cos, is_kept).
    Near-dups in DIFFERENT cells survive (the paper's documented
    recall trade; embedding_neardup_lsh is the data-independent
    counterpart whose buckets don't adapt to the data).

    Scale shape: cells and each vector's centroid cosine come from
    ``ivf_seeds``/``ivf_assign`` (one nearest-centroid pass). The
    assignment is collected once and each cell's pairs are verified in
    ``functions.vectors.keyed_pairs``; the result is built on the
    driver. It is quadratic per cell, so cell occupancy is the lever: size
    ``n_cells ~ corpus / target_cell`` (SemDeDup itself runs k-means
    with k in the tens of thousands at LAION scale). ``max_cell`` guards
    the degenerate case — oversized cells keep all members rather than
    detonating the pair stage, mirrored bit-for-bit in the DuckDB twin.
    """
    seeds = ivf_seeds(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, seeds, id_col, vec_col)
    t, spark, fields = assigned.toArrow(), emb.sparkSession, assigned.schema.fields
    dropped = keyed_pairs(spark, t, threshold, int(max_cell), _dropped, StructType(fields[:1]))
    drop_ids = dropped.toArrow().column(0).combine_chunks()
    kept = pc.invert(pc.is_in(t.column(0), value_set=drop_ids))
    schema = StructType([fields[0], *fields[2:], StructField("is_kept", BooleanType(), False)])
    out = pa.table([t.column(0), *t.columns[2:], kept], names=schema.fieldNames())
    return spark.createDataFrame(out, schema)


def _dropped(cols, a, b, cos) -> pa.RecordBatch:
    """The id each near-dup pair drops: the member whose (centroid_cos,
    id) is higher, in Spark's order (NaN above every number, NaN equal
    to NaN); none when either centroid cosine is NULL. ``a`` has the
    lower id, so it drops only on a strictly higher centroid cosine."""
    valid = cols[2].is_valid().to_numpy(zero_copy_only=False)
    c = cols[2].fill_null(0.0).to_numpy()
    a, b = a[valid[a] & valid[b]], b[valid[a] & valid[b]]
    a_drops = (c[b] < c[a]) | (np.isnan(c[a]) & ~np.isnan(c[b]))
    return pa.RecordBatch.from_arrays([cols[0].take(np.where(a_drops, a, b))], names=["id"])


# --------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public): split the embedding
# into PQ_M subvectors and quantize each against a PQ_KSUB-codeword
# codebook. A float vector (dim x 4 B) becomes PQ_M small ints — the
# compression that makes 100 TB-scale ANN memory-resident (the corpus
# scan for a query touches codes, never raw vectors). Scoring is ADC
# (asymmetric distance computation): per probe, an m x ksub lookup
# table of partial L2^2 distances; a candidate's score is m table
# lookups summed.
#
# Exactness pattern (same as the IVF quantizer above): codebooks are
# SEEDED — subvectors of the ksub lowest-id corpus vectors — so codes
# and ADC scores are bit-reproducible in the DuckDB twin (every fold
# below is a pinned left-to-right aggregate; see dedup.cosine_expr).
# Trained (k-means) codebooks are a deployment swap, exactly like
# ivf_train_kmeans for cells.
# --------------------------------------------------------------------------

PQ_M = 8       # subspaces (dim 64 -> 8-dim subvectors)
PQ_KSUB = 16   # codewords per subspace (codes fit 4 bits; stored int)


def l2sq_expr(a_col: str, b_col: str) -> str:
    """Pinned-order squared-L2 fold — bit-identical in DuckDB (the
    same discipline as ``dedup.cosine_expr``: zip_with then a
    left-to-right aggregate, all doubles): the reference
    ``functions.vectors._l2sq`` matches; no operator calls it."""
    return (
        f"aggregate(zip_with({a_col}, {b_col}, (p, q) -> "
        "(cast(p as double) - cast(q as double)) * "
        "(cast(p as double) - cast(q as double))), "
        "cast(0 as double), (acc, v) -> acc + v)"
    )


def _subvectors(vec_col: str, m: int, dim: int) -> str:
    """array of (sub, subvector) structs — one narrow expression."""
    dsub = dim // m
    return (
        f"transform(sequence(0, {m - 1}), s -> "
        f"named_struct('sub', cast(s as int), "
        f"'sv', slice({vec_col}, s * {dsub} + 1, {dsub})))"
    )


def pq_codebooks_seeded(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, code, codeword): codewords are the subvectors of the
    ``ksub`` lowest-id corpus vectors (deterministic; the global
    window runs on ksub rows only, like ivf_seeds)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = Window.orderBy("id")
    base = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(int(ksub))
        .withColumn("code", (F.row_number().over(w) - 1).cast("int"))
    )
    return base.select(
        "code", F.explode(F.expr(_subvectors("v", m, dim))).alias("_s")
    ).select(F.col("_s.sub").alias("sub"), "code", F.col("_s.sv").alias("codeword"))


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    dim: int = EMB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): per subspace, the L2^2-nearest
    codeword (numbers ascending, then NaN, then NULL; ties -> lowest
    code). The (m x ksub)-row codebook is collected to the driver and
    the corpus streams through ``functions.vectors.nearest_codes`` —
    no shuffle, one output row per input row.
    """
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return nearest_codes(vecs, codebooks.select("sub", "code", "codeword"), dim // m)


# ADC fold over (codes, luts): partial L2^2 per subspace summed
# left-to-right (pinned order -> the DuckDB twin reproduces the exact
# double bits). `luts` is ordered by sub; `codes` is 0-based.
ADC_EXPR = (
    "aggregate(zip_with(codes, luts, (c, l) -> element_at(l, c + 1)), "
    "cast(0 as double), (acc, v) -> acc + v)"
)


def adc_expr(m: int | None = PQ_M) -> str:
    """ADC score with a codegen fast path: when both
    arrays are exactly ``m`` wide the m lookups are unrolled into a
    left-associative sum (identical bits — same order, same 0.0 seed);
    any other width takes the interpreted fold (ADC_EXPR)."""
    if m is None:
        return ADC_EXPR
    terms = " + ".join(
        f"element_at(element_at(luts, {i}), element_at(codes, {i}) + 1)"
        for i in range(1, int(m) + 1)
    )
    return (
        f"IF(size(codes) = {int(m)} AND size(luts) = {int(m)}, "
        f"(cast(0 as double) + {terms}), {ADC_EXPR})"
    )


def pq_probe_luts(
    probes: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    dim: int = EMB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(probe_id, luts): per-probe ADC lookup tables — for each
    subspace, the L2^2 distance from the probe's subvector to every
    codeword, ordered by code (luts[sub][code]). m x ksub doubles per
    probe: tiny by the probes-are-small contract, always broadcast by
    callers. Shared by pq_topk / pq_topk_ivf / pq_topk_trained and the
    persisted-index server (operators.ann_index). One nearest-centroid
    pass over the probes against the collected codebook; a probe id
    held by several rows gets one row each."""
    p = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pe"))
    return code_distances(p, codebooks.select("sub", "code", "codeword"), dim // m)


def adc_topk(pairs: DataFrame, k: int = DEFAULT_K, m: int = PQ_M) -> DataFrame:
    """Rank candidate pairs carrying (probe_id, neighbor_id, codes,
    luts) by the ADC fold: smallest summed partial L2^2 wins (adc ASC,
    id ASC tiebreak). The window runs over candidates only."""
    scored = pairs.withColumn("adc", F.expr(adc_expr(m))).select(
        "probe_id", "neighbor_id", "adc"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("probe_id", "neighbor_id", "adc", "rank")
    )


def pq_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes: smallest summed partial
    L2^2 wins (rank by adc ASC, id ASC tiebreak).

    The probe LUTs (m x ksub doubles per probe) are broadcast; the
    corpus side is the CODES table — m ints per vector — so the scan
    that serves a query never touches raw embeddings. The adc fold is
    zip_with(codes, luts) ordered by sub, pinned left-to-right, so the
    DuckDB twin reproduces the exact double bits.
    """
    codebooks = pq_codebooks_seeded(emb, m, ksub, dim, id_col, vec_col)
    return _pq_topk(emb, probes, codebooks, k, m, dim, id_col, vec_col)


def _pq_topk(emb, probes, codebooks, k, m, dim, id_col, vec_col) -> DataFrame:
    """The PQ serve body over any (sub, code, codeword) codebook."""
    codes = pq_encode(emb, codebooks, m, dim, id_col, vec_col).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    luts = pq_probe_luts(probes, codebooks, m, dim, id_col, vec_col)
    pairs = codes.join(
        F.broadcast(luts), F.col("probe_id") != F.col("neighbor_id")
    )
    return adc_topk(pairs, k)


def pq_topk_ivf(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF x PQ — prune-then-compress, the full-scale ANN shape
    (FAISS's IVFPQ index family, from the public Jégou '11 paper):
    the IVF coarse quantizer restricts candidates to each probe's
    ``nprobe`` nearest cells, and those candidates are scored by ADC
    over PQ codes — the serving scan touches (cell, codes) rows only,
    never raw embeddings.

    Both quantizers are the SEEDED oracle-exact variants (swap in
    ivf_train_kmeans cells / trained codebooks at deployment). At
    100 TB: the corpus is assigned and encoded ONCE (one
    nearest-centroid pass each), the codes table is the only thing a
    query reads, and per-query work is nprobe cells x m lookups per
    candidate.
    """
    seeds = ivf_seeds(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, seeds, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "cell"
    )
    codebooks = pq_codebooks_seeded(emb, m, ksub, dim, id_col, vec_col)
    codes = pq_encode(emb, codebooks, m, dim, id_col, vec_col).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    corpus = codes.join(assigned, "neighbor_id")

    probe_cells = probe_nearest_cells(probes, seeds, nprobe, id_col, vec_col)
    luts = pq_probe_luts(probes, codebooks, m, dim, id_col, vec_col)
    probe_side = probe_cells.select("probe_id", "cell").join(luts, "probe_id")

    pairs = corpus.join(F.broadcast(probe_side), "cell").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    return adc_topk(pairs, k)


PQ_TRAIN_ITERS = 5


def pq_train_kmeans(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    n_iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained PQ codebooks: deterministic Lloyd k-means run PER
    SUBSPACE, all m subspaces in one pass per iteration. Drop-in for
    :func:`pq_codebooks_seeded`'s output; same determinism contract as
    :func:`ivf_train_kmeans` (seeded init, fixed iterations,
    :func:`pq_encode`'s tie-breaks) and the same FIXED-POINT means
    (exact BIGINT sums, quantized division — see ivf_train_kmeans), so
    trained codebooks are bit-portable and HASH-gated against the
    DuckDB twin (oracle_dataops.pq_topk_trained_sql) as well as
    recall-graded. Scale shape: ivf_train_kmeans's, per (sub, code).
    """
    cb = pq_codebooks_seeded(emb, m, ksub, dim, id_col, vec_col)
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return lloyd(vecs, cb, n_iters, dim // m)


def pq_topk_trained(
    emb: DataFrame,
    probes: DataFrame,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = EMB_DIM,
    n_iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """pq_topk with k-means-trained codebooks — hash-gated against
    oracle_dataops.pq_topk_trained_sql (fixed-point training, see
    pq_train_kmeans) and recall-graded in BENCH/ANN_RECALL.md."""
    codebooks = pq_train_kmeans(emb, m, ksub, dim, n_iters, id_col, vec_col)
    return _pq_topk(emb, probes, codebooks, k, m, dim, id_col, vec_col)
